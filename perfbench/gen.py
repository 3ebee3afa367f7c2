"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size parameters)`` and
writes plain parquet, CSV and JSON-lines files; the program under test
only ever sees those files. No Spark is started here, so generation stays out of ``setup_s``.

The TPC-H-shaped tables follow the shape of the test corpus in TESTDATA.md
(same table and column names, types and value domains): independent
uniform columns, ~4 lineitems per order, a 30-word document vocabulary
with ~5% near-duplicate documents, and 64-dim unit embeddings drawn
around 10 labelled centres.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMB_DIM = 64


def _ts(start: str, end: str, n: int, rng: np.random.Generator, unit: str = "D") -> np.ndarray:
    lo, hi = np.datetime64(start, unit), np.datetime64(end, unit)
    span = int((hi - lo) / np.timedelta64(1, unit)) + 1
    return (lo + rng.integers(0, span, n).astype(f"timedelta64[{unit}]")).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict[str, np.ndarray | list], types: dict[str, pa.DataType]) -> None:
    table = pa.table({k: pa.array(v, type=types.get(k)) for k, v in cols.items()})
    pq.write_table(table, path)


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents over the fixed vocabulary, 10–100 tokens each; 5%
    of them are an earlier document plus one ``dup`` token (near
    duplicates) and 0.2% are verbatim copies."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif u < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return texts


def documents_columns(rng: np.random.Generator, n: int) -> dict[str, list]:
    texts = random_texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def tpch_corpus(out_dir: str, seed: int, sf: float) -> None:
    """All ten tables of the test corpus at scale ``sf`` (1.0 = TPC-H
    SF1 row counts) under ``out_dir/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    i32, i64 = pa.int32(), pa.int64()

    _write(p("region"), {"r_regionkey": np.arange(5), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           {"r_regionkey": i32})
    _write(p("nation"), {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": np.arange(25) % 5}, {"n_nationkey": i32, "n_regionkey": i32})

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_users = int(1_500_000 * sf), max(int(15_000 * sf), 15)
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust), "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }, {"c_custkey": i64, "c_nationkey": i32})
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp), "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, {"s_suppkey": i64, "s_nationkey": i32})
    adj = ["blue", "hot", "large", "old", "cold", "small", "red", "green", "tiny", "shiny", "dull", "new", "rough"]
    noun = ["ring", "bolt", "plate", "gear", "anvil", "widget"]
    _write(p("part"), {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 13, n_part), rng.integers(0, 5, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }, {"p_partkey": i64, "p_size": i32})
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord), "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }, {"o_orderkey": i64, "o_custkey": i64})
    n_li = 4 * n_ord
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_li), "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li), "l_linenumber": rng.integers(1, 8, n_li),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2), "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li), "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", "2001-11-04", n_li, rng),
    }, {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32})

    n_ev = int(1_000_000 * sf)
    _write(p("events"), {
        "event_id": np.arange(n_ev), "ts": np.sort(_ts("2024-01-01", "2024-01-30T23:59:59.999999", n_ev, rng, "us")),
        "user_id": rng.integers(0, n_users, n_ev), "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2), "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, {"event_id": i64, "user_id": i64})
    _write(p("documents"), documents_columns(rng, max(int(50_000 * sf), 500)), {})

    n_emb = max(int(20_000 * sf), 500)
    centres = rng.normal(0.0, 0.07, (10, EMB_DIM))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(0.0, 0.125, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {"vec_id": np.arange(n_emb), "embedding": list(vecs), "label": labels},
           {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})


def replicate_corpus(src_dir: str, out_dir: str, factor: int) -> None:
    """×``factor`` copies of ``documents``/``embeddings``/``events`` with
    the construction of ``scripts/scale_spot.build_corpus``: copy k
    suffixes every token with ``_k`` (no cross-copy duplicates), rotates
    each vector by k positions and shifts ids/users by k·10⁷, so every
    copy keeps the base corpus's duplicate and cluster structure.

    ``build_corpus`` itself needs a Spark session. Inputs are generated
    for every new seed before the program under test starts, and a JVM
    start there (8–10 s on a 4-core host) would add about a seventh to
    every run of the benchmark's time budget; so the same construction
    is written here in numpy for the factors below 64 (where
    ``build_corpus`` adds no sign flips), and gives the same rows."""
    os.makedirs(out_dir, exist_ok=True)
    off = lambda k: k * 10_000_000  # noqa: E731
    docs = pq.read_table(os.path.join(src_dir, "documents.parquet"))
    emb = pq.read_table(os.path.join(src_dir, "embeddings.parquet"))
    ev = pq.read_table(os.path.join(src_dir, "events.parquet"))

    texts = docs.column("text").to_pylist()
    parts = []
    for k in range(factor):
        t = texts if k == 0 else [" ".join(f"{w}_{k}" for w in s.split(" ")) for s in texts]
        parts.append(pa.table({
            "doc_id": pa.array(docs.column("doc_id").to_numpy() + off(k)),
            "text": t, "lang": docs.column("lang"), "source": docs.column("source"),
            "n_chars": pa.array([len(s) for s in t], type=pa.int64()),
        }))
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "documents.parquet"))

    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    parts = [pa.table({
        "vec_id": pa.array(emb.column("vec_id").to_numpy() + off(k)),
        "embedding": pa.array(list(np.roll(vecs, -(k % EMB_DIM), axis=1)), type=pa.list_(pa.float32())),
        "label": emb.column("label"),
    }) for k in range(factor)]
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "embeddings.parquet"))

    parts = [pa.table({
        "event_id": pa.array(ev.column("event_id").to_numpy() + off(k)), "ts": ev.column("ts"),
        "user_id": pa.array(ev.column("user_id").to_numpy() + off(k)), "event_type": ev.column("event_type"),
        "value": ev.column("value"), "props": ev.column("props"),
    }) for k in range(factor)]
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "events.parquet"))


# Rate-report CSV header of the reference's downloads (FIXTURES.md A1).
REPORT_HEADER = (
    "Rate Code|Room Type|Arrival Date|Los|Rate (USD)|Base-Rate|Differential|"
    "Channel|Status|Min Stay|Max Stay|Closed To Arrival|Closed To Departure|"
    "Notes|Ref Code|Last Modified"
)
ROOMS = ("KING", "QUEEN", "TWIN", "SUITE")


def hotel_code(i: int) -> str:
    """``H`` plus four capital letters: the location code is the first
    run of capitals in the file name, so codes must not contain digits."""
    letters = []
    for _ in range(4):
        i, r = divmod(i, 26)
        letters.append(chr(65 + r))
    return "H" + "".join(reversed(letters))


def _report(path: str, rng: np.random.Generator, n_rows: int) -> None:
    lines = [REPORT_HEADER]
    for i in range(n_rows):
        rate = round(float(rng.uniform(60.0, 400.0)), 2)
        base = round(rate * 0.9, 2)
        lines.append(
            f"R{i}|{ROOMS[int(rng.integers(0, 4))]}|2026-09-{1 + int(rng.integers(0, 28)):02d}|"
            f"{1 + int(rng.integers(0, 7))}|{rate}|{base}|{round(rate - base, 2)}|WEB|OPEN|1|7|N|N||"
            f"{int(rng.integers(0, 10**5)):05d}|2026-08-01 00:00:00"
        )
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def ingest_inputs(out_dir: str, seed: int, n_keys: int, cycles: int, changed: int) -> None:
    """Hourly rate-report downloads: a bootstrap download of every hotel
    (``raw/boot``), then per cycle ``changed`` hotels with a newer report
    (``raw/cNN``), one pipe-delimited file ``<CODE>_<MMDDYYYY_HH-MM-SS>.csv``
    of 2–12 rows per hotel. ``ingest.json`` holds each download's hotels
    and stamp, and the counts the pipeline must report after it."""
    rng = np.random.default_rng(seed + 1)
    keys = [hotel_code(i) for i in range(n_keys)]
    latest: dict[str, int] = {}  # rows in each hotel's newest report
    total_rows = 0
    downloads = []
    for c in range(cycles + 1):
        raw = os.path.join(out_dir, "raw", "boot" if c == 0 else f"c{c - 1:02d}")
        os.makedirs(raw)
        todo = keys if c == 0 else [keys[i] for i in sorted(rng.choice(n_keys, changed, replace=False))]
        for k in todo:
            n = int(rng.integers(2, 13))
            _report(os.path.join(raw, f"{k}_08132026_{c:02d}-00-00.csv"), rng, n)
            latest[k] = n
            total_rows += n
        downloads.append({
            "raw": os.path.relpath(raw, out_dir),
            "changed": todo,
            "stamp": f"2026-08-13T{c:02d}",
            "loaded_rows": total_rows,
            "current_rows": sum(latest.values()),
        })
    with open(os.path.join(out_dir, "ingest.json"), "w") as fh:
        json.dump({"keys": keys, "boot": downloads[0], "cycles": downloads[1:]}, fh)


def stream_inputs(out_dir: str, seed: int, n_boot: int, batches: int, batch_docs: int) -> None:
    """Documents for the near-dup stream: ``stream_boot.parquet`` (the
    corpus the bootstrap index is built from) and one JSON-lines file
    per micro-batch under ``stream/``. 5% of the documents are near
    duplicates of earlier ones, and the last two of every batch are
    near duplicates of a bootstrap document and of the batch's first,
    so every batch has pairs to find against the index and within itself."""
    rng = np.random.default_rng(seed + 2)
    texts = random_texts(rng, n_boot + batches * batch_docs)
    for b in range(batches):
        lo = n_boot + b * batch_docs
        texts[lo + batch_docs - 2] = texts[int(rng.integers(0, n_boot))] + " dup"
        texts[lo + batch_docs - 1] = texts[lo] + " dup"
    ids = np.arange(len(texts), dtype=np.int64) + 10**8
    _write(os.path.join(out_dir, "stream_boot.parquet"),
           {"doc_id": ids[:n_boot], "text": texts[:n_boot]}, {})
    os.makedirs(os.path.join(out_dir, "stream"), exist_ok=True)
    for b in range(batches):
        lo = n_boot + b * batch_docs
        with open(os.path.join(out_dir, "stream", f"b{b:03d}.json"), "w") as fh:
            for i in range(lo, lo + batch_docs):
                fh.write(json.dumps({"doc_id": int(ids[i]), "text": texts[i]}) + "\n")


# Input size of each workload: ``sf`` of the generated TPC-H-shaped
# corpus, the replication factor applied to its curation tables, and
# the incremental inputs (hotels, cycles per pass and hotels changed per
# cycle; bootstrap documents, micro-batches per pass and documents per
# micro-batch).
INPUTS = {
    "relational_ingest": {"sf": 0.01, "factor": 1, "ingest": {"n_keys": 60, "cycles": 1, "changed": 20}},
    "curation_stream": {"sf": 0.01, "factor": 4, "stream": {"n_boot": 500, "batches": 2, "batch_docs": 20}},
}


def build_inputs(workload: str, seed: int, out_dir: str) -> None:
    """Write the input files of ``workload`` for ``seed`` to ``out_dir``."""
    spec = INPUTS[workload]
    tpch_corpus(out_dir, seed, spec["sf"])
    if spec["factor"] > 1:
        replicate_corpus(out_dir, out_dir, spec["factor"])
    if "ingest" in spec:
        ingest_inputs(out_dir, seed, **spec["ingest"])
    if "stream" in spec:
        stream_inputs(out_dir, seed, **spec["stream"])
