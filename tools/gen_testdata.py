"""Deterministic synthetic-testdata generator mirroring the driver's
TPC-H-ish tables (TESTDATA.md) at arbitrary scale factors — built for the
sf1 load-verification run (SCALING.md): the driver ships sf<=0.1 only and
the public DuckDB tpch extension is unreachable offline, so scale
measurements need locally grown data with the SAME schemas and value
distributions (profiled from /root/testdata/sf0.1: vocabularies, category
shares, ranges, dup rates).

Usage: python tools/gen_testdata.py SF OUTDIR [SEED] [--fixed-vocab]
       [--only=documents,embeddings]   (sections: dims orders events
                                        documents embeddings)
e.g.   python tools/gen_testdata.py 1.0 testdata_sf1
SEED defaults to 42. --help prints this text; an unknown option or a
missing SF OUTDIR prints the usage and exits 2.
--fixed-vocab regenerates the adversarial 31-token document corpus (every
shingle's df grows linearly with corpus size — the documented dedup stress
case); the default documents table draws Zipf(1.07) over a vocabulary that
scales with the corpus, the realistic dedup-measurement regime.

Row counts scale linearly from the driver's sf0.1 shape:
lineitem 6M, orders 1.5M, customer 150k, part 200k, supplier 10k,
events 1M, documents 50k, embeddings 20k at sf=1. All columns match the
driver files' parquet schemas (timestamp[us], float[] embeddings).
NEVER writes into /root/testdata (read-only driver data).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
P_ADJ = ["large", "small", "hot", "cold", "new", "old", "red", "blue"]
P_NOUN = ["ring", "bolt", "anvil", "gear", "widget", "gizmo", "plate", "rod"]
P_TYPE = ["ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD", "PROMO"]
MKT = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(outdir: str, name: str, table: pa.Table) -> None:
    # Bound row groups to ~4 MB: Spark can only split a parquet file at
    # row-group boundaries, and its finest split is openCostInBytes (4 MB)
    # — so ~4 MB row groups let every byte-range split own real rows. A
    # single-row-group 91 MB documents file forces every scan of it onto
    # ONE task (and a 10-row-group events file onto 10 of 32 cores) — the
    # first sf10 run measured that serialization, not the operators. Real
    # multi-TB corpora are thousands of files; fine row groups in one file
    # are the single-file stand-in for that layout.
    rows_per_group = table.num_rows
    if table.nbytes > (4 << 20) and table.num_rows > 1:
        rows_per_group = max(
            1024, int(table.num_rows * (4 << 20) / table.nbytes))
    pq.write_table(table, os.path.join(outdir, f"{name}.parquet"),
                   row_group_size=rows_per_group)
    print(f"  {name}: {table.num_rows} rows", flush=True)


def _ts_us(days_from_epoch_us: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch_us.astype("int64"), type=pa.timestamp("us"))


# rows per generation chunk: big tables (sf100 lineitem = 600M rows, ~60 GB
# of transient numpy arrays if built monolithically) are generated and
# written slice-by-slice. A run that fits in ONE chunk draws from the rng in
# exactly the monolithic order, so every existing sf <= ~3 corpus stays
# bit-reproducible; multi-chunk runs interleave the per-column draws per
# chunk (documented: subset/chunked runs are for load measurement, not
# cross-run value comparison).
CHUNK_ROWS = 20_000_000


class _StreamWriter:
    """Chunked parquet writer with the same ~4 MB row-group sizing as
    ``_write`` (Spark splits parquet at row-group boundaries; see there)."""

    def __init__(self, outdir: str, name: str):
        self.path = os.path.join(outdir, f"{name}.parquet")
        self.name = name
        self.writer: pq.ParquetWriter | None = None
        self.rows = 0

    def write(self, table: pa.Table) -> None:
        rows_per_group = table.num_rows
        if table.nbytes > (4 << 20) and table.num_rows > 1:
            rows_per_group = max(
                1024, int(table.num_rows * (4 << 20) / table.nbytes))
        if self.writer is None:
            self.writer = pq.ParquetWriter(self.path, table.schema)
        self.writer.write_table(table, row_group_size=rows_per_group)
        self.rows += table.num_rows

    def close(self) -> None:
        if self.writer is not None:
            self.writer.close()
        print(f"  {self.name}: {self.rows} rows", flush=True)


def generate(
    sf: float,
    outdir: str,
    seed: int = 42,
    doc_vocab: str = "zipf",
    only: set[str] | None = None,
) -> None:
    """``only`` restricts generation to a subset of the section names
    dims / orders / events / documents / embeddings ("dims" = region,
    nation, customer, supplier, part; "orders" includes lineitem, which
    derives from the order dates). Lets a text-family corpus be grown at
    scales where lineitem would dominate disk and generation time (sf100
    documents+embeddings is ~1.5 GB; lineitem alone would be ~19 GB).
    NOTE: the rng stream is sequential across sections, so a subset
    run's values differ from the same tables in a full run — fine for
    load measurement, not for cross-run value comparison."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.RandomState(seed)

    def want(name: str) -> bool:
        return only is None or name in only
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)

    if want("dims"):
        # -- region / nation (fixed-size dims) ----------------------------------
        _write(outdir, "region", pa.table({
            "r_regionkey": pa.array(range(5), pa.int64()),
            "r_name": REGIONS,
        }))
        _write(outdir, "nation", pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }))

        # -- customer / supplier / part ----------------------------------------
        _write(outdir, "customer", pa.table({
            "c_custkey": pa.array(np.arange(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.randint(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": pa.array(np.array(MKT)[rng.randint(0, 5, n_cust)]),
        }))
        _write(outdir, "supplier", pa.table({
            "s_suppkey": pa.array(np.arange(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.randint(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }))
        adj = np.array(P_ADJ)[rng.randint(0, len(P_ADJ), n_part)]
        noun = np.array(P_NOUN)[rng.randint(0, len(P_NOUN), n_part)]
        _write(outdir, "part", pa.table({
            "p_partkey": pa.array(np.arange(n_part)),
            "p_name": pa.array([f"{a} {n}" for a, n in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(0, 25, n_part)]),
            "p_type": pa.array(np.array(P_TYPE)[rng.randint(0, len(P_TYPE), n_part)]),
            "p_size": pa.array(rng.randint(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 104100, 2),
        }))

    if want("orders"):
        # -- orders / lineitem --------------------------------------------------
        base_1995 = (np.datetime64("1995-01-01", "us") - np.datetime64("1970-01-01", "us")).astype("int64")
        span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) / np.timedelta64(1, "D"))
        # kept whole (int32: ~600 MB at sf100) — lineitem shipdates derive
        # from the order dates via lo_key gather
        o_date_days = rng.randint(0, span_days + 1, n_ord).astype(np.int32)
        w = _StreamWriter(outdir, "orders")
        for lo in range(0, n_ord, CHUNK_ROWS):
            m = min(lo + CHUNK_ROWS, n_ord) - lo
            w.write(pa.table({
                "o_orderkey": pa.array(np.arange(lo, lo + m)),
                "o_custkey": pa.array(rng.randint(0, max(n_cust, 1), m)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.randint(0, 3, m)]),
                "o_totalprice": np.round(rng.uniform(1000, 500000, m), 2),
                "o_orderdate": _ts_us(
                    base_1995 + o_date_days[lo : lo + m].astype(np.int64) * US_PER_DAY
                ),
                "o_orderpriority": pa.array(np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.randint(0, 5, m)]),
            }))
        w.close()
        # ~4 lines per order, shipdate = orderdate + 1..95 days
        w = _StreamWriter(outdir, "lineitem")
        for lo in range(0, n_li, CHUNK_ROWS):
            m = min(lo + CHUNK_ROWS, n_li) - lo
            lo_key = rng.randint(0, max(n_ord, 1), m)
            ship = base_1995 + (
                o_date_days[lo_key].astype(np.int64) + rng.randint(1, 96, m)
            ) * US_PER_DAY
            qty = rng.randint(1, 51, m).astype(np.float64)
            price = np.round(rng.uniform(900, 105000, m), 2)
            w.write(pa.table({
                "l_orderkey": pa.array(lo_key),
                "l_partkey": pa.array(rng.randint(0, max(n_part, 1), m)),
                "l_suppkey": pa.array(rng.randint(0, max(n_supp, 1), m)),
                "l_linenumber": pa.array((rng.randint(1, 8, m)).astype(np.int32)),
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": np.round(rng.randint(0, 11, m) / 100.0, 2),
                "l_tax": np.round(rng.randint(0, 9, m) / 100.0, 2),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.randint(0, 3, m)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.randint(0, 2, m)]),
                "l_shipdate": _ts_us(ship),
            }))
        w.close()

    if want("events"):
        # -- events (30 days, zipf-free uniform users, JSON props) --------------
        base_2024 = (np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us")).astype("int64")
        ts = base_2024 + rng.randint(0, 30 * US_PER_DAY, n_evt, dtype=np.int64)
        ts.sort()
        w = _StreamWriter(outdir, "events")
        for lo in range(0, n_evt, CHUNK_ROWS):
            m = min(lo + CHUNK_ROWS, n_evt) - lo
            k = rng.randint(0, 100, m)
            w.write(pa.table({
                "event_id": pa.array(np.arange(lo, lo + m)),
                "ts": _ts_us(ts[lo : lo + m]),
                "user_id": pa.array(rng.randint(0, max(int(15_000 * sf), 1), m)),
                "event_type": pa.array(np.array(EVENT_TYPES)[rng.randint(0, 5, m)]),
                "value": np.round(np.abs(rng.exponential(80, m)), 2),
                "props": pa.array([f'{{"k": {v}}}' for v in k]),
            }))
        w.close()

    if want("documents"):
        # -- documents ----------------------------------------------------------
        # Default corpus is REALISTIC for dedup measurement: a Zipf(1.07) draw
        # over a vocabulary that grows with scale (~0.4 words per document,
        # floor 1000), so shingle document-frequency stays roughly flat as the
        # corpus grows — like a real crawl, where new text brings new types.
        # The round-5 fixed-31-token corpus made shingle df grow LINEARLY with
        # corpus size, so sf1 Jaccard/cluster timings measured the adversarial
        # sum-df^2 cap regime instead of the expected one (VERDICT r5). That
        # corpus remains available as an explicit stress case (doc_vocab="fixed31").
        if doc_vocab == "fixed31":
            vocab = np.array(VOCAB)
            probs = None
        else:
            v_size = max(1000, int(20_000 * sf))
            vocab = np.array(VOCAB + [f"w{i}" for i in range(v_size - len(VOCAB))])
            ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
            probs = ranks**-1.07
            probs /= probs.sum()
        lens = rng.randint(10, 101, n_doc)
        n_tok = int(lens.sum())
        if probs is None:
            tok_ids = rng.randint(0, len(vocab), n_tok)
        else:
            tok_ids = np.searchsorted(np.cumsum(probs), rng.rand(n_tok)).clip(
                0, len(vocab) - 1
            )
        texts: list[str] = []
        pos = 0
        for ln in lens:
            texts.append(" ".join(vocab[tok_ids[pos : pos + ln]]))
            pos += ln
        # controlled duplication: ~0.17% exact copies + ~0.25% near-duplicates
        # (random doc with ~5% of tokens swapped) so dedup operators have known
        # positives at every scale
        n_dup = max(1, n_doc // 600)
        dup_to = rng.randint(0, n_doc, n_dup)
        dup_from = rng.randint(0, n_doc, n_dup)
        for a, b in zip(dup_to, dup_from):
            texts[a] = texts[b]
        n_near = max(1, n_doc // 400)
        near_to = rng.randint(0, n_doc, n_near)
        near_from = rng.randint(0, n_doc, n_near)
        for a, b in zip(near_to, near_from):
            toks = texts[b].split(" ")
            n_swap = max(1, len(toks) // 20)
            for j in rng.randint(0, len(toks), n_swap):
                toks[j] = str(vocab[rng.randint(0, len(vocab))])
            texts[a] = " ".join(toks)
        _write(outdir, "documents", pa.table({
            "doc_id": pa.array(np.arange(n_doc)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
            "source": pa.array([f"src{s}" for s in rng.randint(0, 20, n_doc)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }))

    if want("embeddings"):
        # -- embeddings (10 unit-norm label clusters, 64-d float32) -------------
        centers = rng.randn(10, 64)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        labels = rng.randint(0, 10, n_emb)
        E = centers[labels] + 0.35 * rng.randn(n_emb, 64)
        E /= np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
        _write(outdir, "embeddings", pa.table({
            "vec_id": pa.array(np.arange(n_emb)),
            "embedding": pa.array(list(E.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }))


SECTIONS = ("dims", "orders", "events", "documents", "embeddings")


def main(argv: list[str]) -> int:
    usage = __doc__[__doc__.index("Usage:"):__doc__.index("\n--fixed-vocab")]
    if "--help" in argv or "-h" in argv:
        print(__doc__)
        return 0

    def bad(msg: str) -> int:
        print(f"gen_testdata: {msg}\n{usage}", file=sys.stderr)
        return 2

    args, doc_vocab, only = [], "zipf", None
    for a in argv:
        if a == "--fixed-vocab":
            doc_vocab = "fixed31"
        elif a.startswith("--only="):
            only = {s for s in a[len("--only="):].split(",") if s}
            if not only or not only <= set(SECTIONS):
                return bad(f"--only takes sections from {', '.join(SECTIONS)}")
        elif a.startswith("-"):
            return bad(f"unknown option {a}")
        else:
            args.append(a)
    if not 2 <= len(args) <= 3:
        return bad("expected SF OUTDIR [SEED]")
    try:
        sf = float(args[0])
        seed = int(args[2]) if len(args) > 2 else 42
    except ValueError as e:
        return bad(str(e))
    outdir = args[1]
    assert not os.path.realpath(outdir).startswith("/root/testdata"), \
        "driver testdata is read-only"
    print(f"generating sf={sf} -> {outdir} (seed={seed}, docs={doc_vocab})", flush=True)
    generate(sf, outdir, seed, doc_vocab=doc_vocab, only=only)
    print("done", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
