"""Seeded inputs for the search-engine benchmark.

Everything the engine reads is generated here from one integer seed:

* a Zipfian corpus written as ``documents.parquet`` (``doc_id, text``),
  the same two columns the engine's ``documents`` table carries;
* the texts sent to the near-duplicate probe (the delta batches
  appended during the run are the corpus's documents past the base);
* a query log whose terms are drawn by Zipfian popularity;
* a small scale-factor directory (every table the query registry
  reads) for the registry lane.

Term ``r`` of the vocabulary (rank 0 is the most frequent) is spelled
``_word(r)``: lowercase letters only, so the engine's tokenizer
(``split(lower(text), ' ')``) returns exactly the generated tokens.
"""

from __future__ import annotations

import json
import os

import numpy as np

#: corpus shape shared by every workload (quoted in BENCHMARK.json's
#: workload descriptions and in README.md): vocabulary size, Zipf
#: exponent and the lognormal doc-length law, clipped to [MIN_LEN,
#: MAX_LEN] tokens.  MIN_LEN keeps every document far above the probe's
#: 3-token shingle window so two independent documents never land at
#: Jaccard >= 0.8 by chance.
VOCAB = 100_000
ZIPF_S = 1.07
LEN_MEDIAN = 60
LEN_SIGMA = 0.6
MIN_LEN = 20
MAX_LEN = 400

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _word(rank: int) -> str:
    """Base-26 spelling of a vocabulary rank ('a', …, 'z', 'ba', …):
    distinct ranks give distinct words."""
    out = ""
    n = rank
    while True:
        out = _LETTERS[n % 26] + out
        n //= 26
        if n == 0:
            return out


def _zipf_cdf() -> np.ndarray:
    p = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    return np.cumsum(p / p.sum())


def make_corpus(seed: int, n_docs: int) -> list[str]:
    """``n_docs`` texts; ``texts[i]`` is the text of doc_id ``i``."""
    rng = np.random.default_rng([seed, 1])
    lens = np.clip(
        rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA, n_docs).astype(np.int64),
        MIN_LEN, MAX_LEN,
    )
    ranks = np.searchsorted(_zipf_cdf(), rng.random(int(lens.sum())),
                            side="right")
    ranks = np.minimum(ranks, VOCAB - 1)
    words = {}
    texts = []
    pos = 0
    for n in lens:
        chunk = ranks[pos:pos + n]
        pos += n
        texts.append(" ".join(
            words.setdefault(r, _word(int(r))) for r in chunk.tolist()
        ))
    return texts


def make_queries(seed: int, n: int, mix: dict[str, float]) -> list[dict]:
    """``n`` queries of 1–3 distinct terms drawn by Zipfian popularity.

    Stratified so that any stretch of the log is representative and a
    short serving window measures the same mix whatever the seed: every
    block of ten queries holds each kind in proportion to ``mix`` (kind
    -> share), every block of three holds one query of each length, and
    every block of sixteen terms draws its popularity quantiles from
    sixteen equal strata of the Zipf CDF."""
    rng = np.random.default_rng([seed, 2])
    cdf = _zipf_cdf()
    total = sum(mix.values())
    kind_block = [k for k in sorted(mix)
                  for _ in range(round(10 * mix[k] / total))]
    strata: list[float] = []

    def draw() -> str:
        if not strata:
            strata.extend((rng.permutation(16) + rng.random(16)) / 16)
        r = int(np.searchsorted(cdf, strata.pop(), side="right"))
        return _word(min(r, VOCAB - 1))

    kinds: list[str] = []
    sizes: list[int] = []
    out = []
    for _ in range(n):
        if not kinds:
            kinds.extend(rng.permutation(kind_block).tolist())
        if not sizes:
            sizes.extend(rng.permutation([1, 2, 3]).tolist())
        size = sizes.pop()
        terms: list[str] = []
        while len(terms) < size:
            w = draw()
            if w not in terms:
                terms.append(w)
        out.append({"kind": kinds.pop(), "terms": terms})
    return out


def make_probes(seed: int, stream: int, ids, n: int, held: bool,
                texts: list[str]) -> list[dict]:
    """``n`` near-duplicate probes, each the text of a distinct document
    of ``ids``: with ``held``, exact copies of documents the
    near-duplicate store holds (the probe must find the copy at Jaccard
    1.0), else documents it does not hold.  ``stream`` tells apart the
    lists of a seed.

    A probe's cost grows with its text's shingle count, so the
    documents sit at ``n`` evenly spaced quantiles of the candidates'
    lengths: every seed probes texts of about the same lengths, in a
    seeded order.  The two kinds differ about threefold in cost, so a
    workload keeps each timed median within one kind."""
    rng = np.random.default_rng([seed, 3, stream])
    by_len = sorted(ids, key=lambda d: (texts[d].count(" "), d))
    picked = [by_len[int((j + 0.5) * len(by_len) / n)] for j in range(n)]
    picked = rng.permutation(picked).tolist()
    return [{"copy_of": d} if held else {"copy_of": None, "doc_id": d}
            for d in picked]


def write_corpus(texts: list[str], ids, sf_dir: str) -> None:
    """Write the ``documents`` table of the given doc_ids under
    ``sf_dir`` — the directory layout ``sources.load`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    ids = list(ids)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([texts[i] for i in ids], pa.string()),
    })
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


#: rows per table of the registry lane's scale-factor directory: the
#: shipped fixtures' shapes (FIXTURES.md) at a size where every query
#: costs about one Spark job's overhead
REGISTRY_ROWS = {"supplier": 20, "customer": 300, "part": 400,
                 "orders": 3_000, "lineitem": 12_000, "events": 2_000,
                 "documents": 200, "embeddings": 200}
_DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
_DAY_US = 86_400_000_000


def write_registry_tables(seed: int, sf_dir: str) -> None:
    """Every table the query registry reads, with the value domains of
    the shipped fixtures (tools/gen_sf_fixtures.py lists them), drawn
    from ``seed``.  region and nation are the fixed TPC-H-style tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    n = REGISTRY_ROWS
    os.makedirs(sf_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols),
                       os.path.join(sf_dir, f"{name}.parquet"))

    def i64(xs):
        return pa.array(xs, pa.int64())

    def i32(xs):
        return pa.array(xs, pa.int32())

    def pick(choices, size):
        return np.array(choices)[rng.integers(0, len(choices), size)]

    def ts(us):
        return pa.array(us, pa.timestamp("us"))

    put("region", {"r_regionkey": i32(range(5)), "r_name": [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": i32(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])})
    put("supplier", {
        "s_suppkey": i64(np.arange(n["supplier"])),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
        "s_acctbal": np.round(rng.uniform(-1_000, 10_000, n["supplier"]), 2),
    })
    put("customer", {
        "c_custkey": i64(np.arange(n["customer"])),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
        "c_acctbal": np.round(rng.uniform(-1_000, 10_000, n["customer"]), 2),
        "c_mktsegment": pick(["FURNITURE", "MACHINERY", "AUTOMOBILE",
                              "BUILDING", "HOUSEHOLD"], n["customer"]),
    })
    pk = np.arange(n["part"])
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
            "anvil"]
    put("part", {
        "p_partkey": i64(pk),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n["part"]),
                                              pick(noun, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n["part"]),
        "p_size": i32(rng.integers(1, 51, n["part"])),
        "p_retailprice": np.round(900.0 + 0.1 * pk, 2),
    })
    d0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    d1 = np.datetime64("2001-08-01", "D").astype(np.int64)
    o_days = rng.integers(d0, d1 + 1, n["orders"])
    put("orders", {
        "o_orderkey": i64(np.arange(n["orders"])),
        "o_custkey": i64(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": pick(["O", "P", "F"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n["orders"]), 2),
        "o_orderdate": ts(o_days * _DAY_US),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
    })
    m = n["lineitem"]
    lo = rng.integers(0, n["orders"], m)
    put("lineitem", {
        "l_orderkey": i64(lo),
        "l_partkey": i64(rng.integers(0, n["part"], m)),
        "l_suppkey": i64(rng.integers(0, n["supplier"], m)),
        "l_linenumber": i32(rng.integers(1, 8, m)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": pick(["N", "A", "R"], m),
        "l_linestatus": pick(["O", "F"], m),
        "l_shipdate": ts((o_days[lo] + rng.integers(1, 96, m)) * _DAY_US),
    })
    m = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    put("events", {
        "event_id": i64(np.arange(m)),
        "ts": ts(np.sort(t0 + rng.integers(0, 30 * _DAY_US, m))),
        "user_id": i64(rng.integers(0, 150, m)),
        "event_type": pick(["error", "signup", "purchase", "view", "click"],
                           m),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 101, m)],
    })
    m = n["documents"]
    texts = [" ".join(pick(_DOC_VOCAB, ln))
             for ln in rng.integers(10, 99, m)]
    texts[1] = texts[0]  # the fixtures plant a few exact duplicates
    put("documents", {
        "doc_id": i64(np.arange(m)),
        "text": texts,
        "lang": np.array(["en", "es", "de", "fr", "zh"])[rng.choice(
            5, m, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])],
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": i64([len(t) for t in texts]),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": i64(np.arange(m)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel(), pa.float32()), 64,
        ).cast(pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, m)),
    })
