"""Seeded input generators for the benchmark.

Every function takes a ``numpy.random.Generator`` (or a seed) and writes
plain files; the program under test only ever sees those files.  The same
seed gives byte-identical inputs.

* :func:`star_schema` - the TPC-H-shaped tables plus ``events``,
  ``documents`` and ``embeddings``, with the column names and types the
  package's registry queries expect.
* :func:`probe_csv` / :func:`probe_parquet` - one column per branch of the
  type-inference decision tree, with the expected proposed type of each.
* :func:`clone_corpus` - a document corpus with planted near-duplicate
  clones, returning the planted pairs.
* :func:`ingest_batches` - a sequence of small batches whose schema gains
  a column every few batches.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = (
    "a the data spark stream batch join merge window customer part group "
    "filter sort scan vector query big hash column agg table line small "
    "slow key fast order row value"
).split()
STAR_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _rng(seed_or_rng) -> np.random.Generator:
    if isinstance(seed_or_rng, np.random.Generator):
        return seed_or_rng
    return np.random.default_rng(seed_or_rng)


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return base + days.astype("timedelta64[us]")


def _texts(rng, n: int, lo: int = 5, hi: int = 80) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS)[idx]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos : pos + k]))
        pos += k
    return out


# --------------------------------------------------------------- star schema
def star_schema(seed, out_dir: str, sf: float, only=None) -> dict[str, int]:
    """Write the star-schema tables at scale factor ``sf`` into ``out_dir``
    as ``<table>.parquet`` (only the tables named in ``only``, if given);
    return the row count of each table written.  A table's contents do not
    depend on ``only``."""
    rng = _rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = max(400, int(6_000_000 * sf))
    n_ev = max(200, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    n_users = max(20, int(15_000 * sf))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": regions,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
    }
    adj = np.array(["large", "hot", "blue", "old", "cold", "small"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": pa.array(
                _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                pa.timestamp("us"),
            ),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(
                _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                pa.timestamp("us"),
            ),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], n_ev
            ),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _texts(rng, n_doc)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    if only is not None:
        tables = {n: t for n, t in tables.items() if n in only}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------ inference probe file
# column -> (expected proposed type, value generator).  One column per branch
# of the decision tree; each generator returns a list of n python values or
# None (null), always covering the value that decides the branch.
def _probe_columns(rng, n: int) -> dict[str, tuple[str, list]]:
    def nulls(vals, frac=0.1):
        mask = rng.random(n) < frac
        return [None if m else v for v, m in zip(vals, mask)]

    def pick(pool):
        return [pool[i] for i in rng.integers(0, len(pool), n)]

    ints = rng.integers(-5, 2_000_000, n).tolist()
    ints[0] = 2_147_483_647
    big = rng.integers(-9_000_000_000, 9_000_000_000, n).tolist()
    big[0] = -9_000_000_000
    floats = np.round(rng.uniform(-1000, 1000, n), 3)
    floats[0] = 0.25
    day0 = dt.date(2019, 1, 1)
    dates = [(day0 + dt.timedelta(days=int(d))).isoformat() for d in rng.integers(0, 700, n)]
    secs = rng.integers(1, 86_400, n)
    tss = [
        f"{d} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for d, s in zip(dates, secs)
    ]
    shorts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), 4)) for _ in range(n)]
    edge = list(shorts)
    edge[n // 2] = "x" * 240
    long_ = list(shorts)
    long_[n // 3] = "y" * (241 + int(rng.integers(0, 760)))
    return {
        "all_null": ("notype", [None] * n),
        "bool_words": ("bool", nulls(pick(["true", "false", "TRUE", "f", "t"]))),
        "bool_01": ("bool", pick([0, 1])),
        "flag_id": ("int4", pick([0, 1])),
        "small_int": ("int4", nulls(ints)),
        "big_int": ("int8", big),
        "int_valued_float": ("int4", [float(v) for v in rng.integers(-50, 50, n)]),
        "real_float": ("float8", nulls(floats.tolist())),
        "numeric_string": ("int4", pick(["20190101", "20200215", "20211231"])),
        "pure_date": ("date", nulls(dates)),
        "midnight_ts": ("date", [f"{d} 00:00:00" for d in dates]),
        "real_ts": ("timestamp", tss),
        "partial_date": ("varchar(256)", pick(["2019", "03/2019", "Jan 2020"])),
        "short_str": ("varchar(256)", nulls(shorts)),
        "edge_240_str": ("varchar(256)", edge),
        "long_str": ("varchar(65535)", long_),
        "mixed_junk": ("varchar(256)", pick(["abc", "123", "2019-01-01"])),
        "dotted.name": ("varchar(256)", shorts),
    }


def _normalized(name: str) -> str:
    return name.replace(".", "_")


def probe_csv(seed, path: str, n: int) -> dict[str, str]:
    """Write a ``|``-delimited CSV of ``n`` rows hitting every branch of the
    decision tree; return {normalized column: expected proposed type}."""
    rng = _rng(seed)
    cols = _probe_columns(rng, n)
    text = pa.table(
        {c: pa.array(["" if v is None else str(v) for v in vals]) for c, (_, vals) in cols.items()}
    )
    pacsv.write_csv(
        text, path, pacsv.WriteOptions(delimiter="|", quoting_style="none")
    )
    # CSV reads every value as text through Spark's own inferSchema; the
    # expected types are the decision tree's answers for text input.
    return {_normalized(c): t for c, (t, _) in cols.items()}


def probe_parquet(seed, path: str, n: int) -> dict[str, str]:
    """Typed twin of :func:`probe_csv`: integer, double and string parquet
    columns carrying the same branches."""
    rng = _rng(seed)
    cols = _probe_columns(rng, n)
    arrays = {}
    for c, (_, vals) in cols.items():
        if c in ("bool_01", "flag_id", "small_int", "big_int"):
            arrays[c] = pa.array(vals, pa.int64())
        elif c in ("int_valued_float", "real_float"):
            arrays[c] = pa.array(vals, pa.float64())
        else:
            arrays[c] = pa.array([None if v is None else str(v) for v in vals], pa.string())
    pq.write_table(pa.table(arrays), path)
    return {_normalized(c): t for c, (t, _) in cols.items()}


# -------------------------------------------------------- near-dup corpus
def clone_corpus(
    seed, path: str, n_docs: int, clone_rate: float
) -> tuple[set[tuple[int, int]], list[int]]:
    """Write a corpus of ``n_docs`` random-word documents in which a
    ``clone_rate`` share are near-duplicates of an earlier original (one
    word substituted).  Return the planted (original, clone) id pairs and a
    few probe ids for the contamination scan."""
    rng = _rng(seed)
    n_clones = int(n_docs * clone_rate)
    n_orig = n_docs - n_clones
    texts = _texts(rng, n_orig, lo=30, hi=80)
    pairs = set()
    for k in range(n_clones):
        src = int(rng.integers(0, n_orig))
        words = texts[src].split(" ")
        j = int(rng.integers(0, len(words)))
        words[j] = "clone" + str(k)
        texts.append(" ".join(words))
        pairs.add((src, n_orig + k))
    order = rng.permutation(n_docs)  # clones are not adjacent to their source
    inv = np.empty_like(order)
    inv[order] = np.arange(n_docs)
    ids = inv  # old position -> new doc id
    doc_text = [None] * n_docs
    for old, new in enumerate(ids):
        doc_text[new] = texts[old]
    planted = {tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in pairs}
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": doc_text,
                "lang": rng.choice(LANGS, n_docs, p=LANG_P),
                "quality": np.round(rng.random(n_docs), 4),
            }
        ),
        path,
    )
    probes = sorted(int(i) for i in rng.choice(n_docs, 5, replace=False))
    return planted, probes


# ------------------------------------------------------ evolving batches
def ingest_batches(seed, out_dir: str, n_batches: int, rows: int, every: int):
    """Write ``n_batches`` parquet batches of ``rows`` rows; every ``every``
    batches the schema gains a column (alternately an integer and a
    timestamp column).  Return, per batch, its path and the expected
    proposed type of each column."""
    rng = _rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    out = []
    extra: list[str] = []
    for b in range(n_batches):
        if b and b % every == 0:
            kind = "ts" if len(extra) % 2 else "val"
            extra.append(f"x{len(extra)}_{kind}")
        cols = {
            "event_id": (
                pa.array(np.arange(b * rows, (b + 1) * rows), pa.int64()),
                "int4",
            ),
            "amount": (pa.array(np.round(rng.uniform(0, 500, rows), 2)), "float8"),
            "kind": (pa.array(rng.choice(WORDS, rows)), "varchar(256)"),
            "day": (
                pa.array(_days(rng, rows, dt.date(2023, 1, 1), dt.date(2023, 12, 31)),
                         pa.timestamp("us")),
                "date",
            ),
        }
        for c in extra:
            if c.endswith("_ts"):
                t0 = np.datetime64("2023-06-01T00:00:00", "us")
                offs = rng.integers(1, 86_400_000_000 * 30, rows)
                cols[c] = (
                    pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
                    "timestamp",
                )
            else:
                cols[c] = (
                    pa.array(rng.integers(3_000_000_000, 9_000_000_000, rows), pa.int64()),
                    "int8",
                )
        path = os.path.join(out_dir, f"batch_{b:03d}.parquet")
        pq.write_table(pa.table({c: a for c, (a, _) in cols.items()}), path)
        out.append((path, {c: t for c, (_, t) in cols.items()}))
    return out
