"""The benchmark's workloads: seeded inputs, the op sequence, and the
output check of every op.

A workload builds its inputs from the seed, then yields ops.  An op is an
``Op``: ``construct()`` calls the package and returns a handle,
``action(handle)`` forces the result (for ops whose result is a lazy
DataFrame) and ``check(result)`` returns ``None`` when the output is right
or a one-line reason when it is wrong.  The op sequence is a repetition of
one fixed cycle whose order is shuffled per cycle by the seed, so every
seed runs the same mix of op kinds.

* ``schema_lifecycle`` - the paper's read path and its write path,
  alternating in one cycle:

  - ``infer_ddl`` ops run one full ``SparkAutoSchema`` lifecycle on one
    file (infer, Redshift DDL, Spark DDL, diff against a seeded stub of
    the deployed table, ALTER DDL).  Files: typed parquet tables and
    ``|``-delimited CSV files hitting every branch of the type-inference
    decision tree, from 1k rows to the lineitem scale.
  - ``ingest_evolve`` ops append the next seeded batch to a Spark catalog
    table in a fresh warehouse: infer the batch, check schema and table
    exist, diff against the live catalog, execute the Spark ALTER, append,
    and confirm the diff is empty again.  The schema gains a column every
    few batches.

* ``operator_mix`` - the operator layer, in one cycle:

  - ``dedup_corpus`` ops run the ``ops.dedup`` public functions on a
    corpus with planted near-duplicate clones;
  - ``registry_mix`` ops run a weighted draw of ``__spark_entry__``
    registry queries from every family except dedup and inference, each
    checked against its DuckDB oracle after the timed loop.

Input generation and the oracle comparison are the benchmark's own work:
the runner hands them to a helper process through ``offload(fn, *args)``,
so they add nothing to the driver's CPU time or peak memory.
"""

from __future__ import annotations

import datetime
import math
import os
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Callable

import numpy as np

import gen


@dataclass
class Op:
    kind: str  # sub-workload: infer_ddl, ingest_evolve, dedup_corpus, registry_mix
    name: str  # op type within the kind
    construct: Callable[[], object]
    action: Callable[[object], object] = lambda h: h
    check: Callable[[object], str | None] = lambda r: None
    family: str | None = None
    meta: dict = field(default_factory=dict)


# ============================================================ schema_lifecycle
# expected proposed type of each column of the typed star tables
STAR_EXPECTED = {
    "lineitem": {
        "l_orderkey": "int4", "l_partkey": "int4", "l_suppkey": "int4",
        "l_linenumber": "int4", "l_quantity": "int4", "l_extendedprice": "float8",
        "l_discount": "float8", "l_tax": "float8", "l_returnflag": "varchar(256)",
        "l_linestatus": "varchar(256)", "l_shipdate": "date",
    },
}

# a type of another diff class than the proposed one, for TYPE MISMATCH
_OTHER_CLASS = {
    "int4": "varchar(256)", "int8": "int4", "float8": "int8", "bool": "int4",
    "date": "timestamp", "timestamp": "date", "varchar(256)": "int4",
    "varchar(65535)": "varchar(256)",
}
# an alias of the proposed type's own class: no diff row
_ALIAS = {
    "int4": "integer", "int8": "bigint", "float8": "double precision",
    "bool": "boolean", "date": "date", "timestamp": "timestamp without time zone",
    "varchar(256)": "character varying(256)", "varchar(65535)": "nvarchar(65535)",
}


def deployed_stub(rng: np.random.Generator, expected: dict[str, str]):
    """A seeded stub of the deployed table for a file whose columns infer to
    ``expected``: two columns absent (MISSING), one with a type of another
    class (TYPE MISMATCH), one extra column (DEPRECATED), the rest under an
    alias of their own class.  Returns (rows, {field: expected reason})."""
    cols = [c for c, t in expected.items() if t != "notype"]
    pick = [cols[i] for i in rng.permutation(len(cols))]
    missing, mismatch = pick[:2], pick[2]
    rows, reasons = [], {}
    for c in cols:
        if c in missing:
            reasons[c] = "MISSING"
        elif c == mismatch:
            rows.append((c, _OTHER_CLASS[expected[c]]))
            reasons[c] = "TYPE MISMATCH"
        else:
            rows.append((c, _ALIAS[expected[c]]))
    rows.append(("retired_col", "date"))
    reasons["retired_col"] = "DEPRECATED"
    return rows, reasons


def _diff_types(meta, expected: dict[str, str]) -> str | None:
    got = {ci.name: ci.proposed_type for ci in meta}
    if got != expected:
        bad = sorted(c for c in set(got) | set(expected) if got.get(c) != expected.get(c))
        return "types differ on " + ",".join(
            f"{c}={got.get(c)}/{expected.get(c)}" for c in bad[:4]
        )
    return None


class SchemaLifecycle:
    name = "schema_lifecycle"
    # local[N]: ops here are a dozen small jobs each; two task threads leave
    # the JVM's JIT and GC threads and the Python driver cores of their own
    # on a 4-CPU machine (with four, ops were 25 % slower and moved +-10 %
    # from run to run)
    CORES = 2
    # rows of the infer_ddl probe files; lineitem is the typed star table
    CSV_ROWS = (1_000, 10_000, 60_000)
    PARQUET_ROWS = (5_000,)
    INGEST_PER_CYCLE = 7
    INGEST_ROWS = 2_000
    INGEST_EVERY = 3
    N_BATCHES = 30

    def __init__(self, spark, seed: int, sf: float, work: str, offload) -> None:
        self.spark = spark
        self.sf = sf
        self.work = work
        self.offload = offload
        self.rng = np.random.default_rng([seed, 1])
        self.seed = seed
        # (path, expected type per column, rows, plan shape)
        self.files: list[tuple[str, dict[str, str], int, str]] = []
        self.window = 0

    def make_inputs(self) -> None:
        self.files, self.batches = self.offload(
            lifecycle_inputs, self.seed, os.path.join(self.work, "in"), self.sf,
            self.CSV_ROWS, self.PARQUET_ROWS, self.N_BATCHES, self.INGEST_ROWS,
            self.INGEST_EVERY,
        )
        self.stubs = []
        for _, exp, _, _ in self.files:
            rows, reasons = deployed_stub(self.rng, exp)
            self.stubs.append((rows, reasons))
        self.spark.sql("CREATE DATABASE IF NOT EXISTS bench")

    def input_desc(self) -> dict:
        return {
            "infer_files": {os.path.basename(f): n for f, _, n, _ in self.files},
            "ingest_rows_per_batch": self.INGEST_ROWS,
            "ingest_new_column_every": self.INGEST_EVERY,
        }

    # -------------------------------------------------------------- ops
    def _infer_op(self, i: int) -> Op:
        from pyspark.sql import types as T
        from spark_auto_schema import SparkAutoSchema

        path, expected, n_rows, _ = self.files[i]
        rows, reasons = self.stubs[i]
        spark = self.spark
        schema = T.StructType(
            [T.StructField("field", T.StringType()), T.StructField("deployed_type", T.StringType())]
        )

        def construct():
            sas = SparkAutoSchema(schema="analytics", table=f"t{i}", file=path, spark=spark)
            deployed = spark.createDataFrame(rows, schema)
            ddl = sas.generate_table_ddl()
            spark_ddl = sas.generate_spark_table_ddl()
            diff = sas.evaluate_table_ddl_diffs(deployed_df=deployed).collect()
            col_ddl = sas.generate_column_ddl()
            return sas.metadata, ddl, spark_ddl, diff, col_ddl

        def check(res):
            meta, ddl, spark_ddl, diff, col_ddl = res
            bad = _diff_types(meta, expected)
            if bad:
                return bad
            got = {r["field"]: r["reason"] for r in diff}
            if got != reasons:
                return f"diff reasons {sorted(got.items())} != {sorted(reasons.items())}"
            typed = [c for c, t in expected.items() if t != "notype"]
            if ddl is None or any(c not in ddl for c in expected):
                return "table DDL misses a column"
            if spark_ddl is None or any(c not in spark_ddl for c in expected):
                return "Spark DDL misses a column"
            want = sorted(c for c, r in reasons.items() if r == "MISSING" and c in typed)
            if col_ddl is None or sorted(
                ln.split(" ADD COLUMN ")[1].split(" ")[0] for ln in col_ddl.splitlines()
            ) != want:
                return f"column DDL {col_ddl!r} does not add {want}"
            return None

        return Op("infer_ddl", os.path.basename(path), construct, check=check,
                  meta={"rows": n_rows})

    def _ingest_op(self, b: int) -> Op:
        from pyspark.sql import functions as F
        from spark_auto_schema import SparkAutoSchema

        path, expected = self.batches[b]
        spark = self.spark
        table = f"events_w{self.window}"
        prev_cols = set(self.batches[b - 1][1]) if b else set()
        new_cols = sorted(set(expected) - prev_cols) if b else []
        meta = {"rows": self.INGEST_ROWS, "bytes_in": os.path.getsize(path)}

        def construct():
            sas = SparkAutoSchema(schema="bench", table=table, file=path, spark=spark)
            spark_ddl = sas.generate_spark_table_ddl()
            if not sas.check_schema_existence():
                spark.sql(sas.generate_schema_ddl())
            created = False
            if not sas.check_table_existence():
                spark.sql(spark_ddl)
                created = True
            diff = sas.evaluate_table_ddl_diffs().collect()
            alter = sas.generate_spark_column_ddl()
            if alter:
                spark.sql(alter)
            target = spark.table(f"bench.{table}")
            src = sas.file_df
            df = src.select(
                *[F.col(f.name).cast(f.dataType) for f in target.schema.fields]
            )
            # the package has no append function: this span is the
            # benchmark's own write, reported as ingest.*, not as io.*
            with self.span("ingest.append", "ingest"):
                df.write.insertInto(f"bench.{table}")
            sas.diff = None
            after = sas.evaluate_table_ddl_diffs().collect()
            return sas.metadata, created, diff, after

        def check(res):
            inferred, created, diff, after = res
            size = _dir_bytes(os.path.join(self.work, "warehouse", "bench.db", table))
            meta["bytes_written"], self._table_bytes = size - self._table_bytes, size
            bad = _diff_types(inferred, expected)
            if bad:
                return bad
            missing = sorted(r["field"] for r in diff if r["reason"] == "MISSING")
            if created != (b == 0) or missing != ([] if b == 0 else new_cols):
                return f"batch {b}: MISSING {missing}, expected {new_cols}"
            if len(diff) != len(missing):
                return f"batch {b}: unexpected diff rows {[tuple(r) for r in diff]}"
            if after:
                return f"batch {b}: diff not empty after ALTER: {[tuple(r) for r in after]}"
            return None

        return Op("ingest_evolve", f"batch{b}", construct, check=check, meta=meta)

    span = None  # set by the runner: a span(name, layer) context factory

    def cycle(self) -> list[tuple[str, Callable[[int], Op]]]:
        """One cycle of (shape, op factory); each factory is called with
        the op's position in the window, so ingest ops take the next batch.
        Ops of one shape run the same query plans."""
        cyc = []
        for i, (_, _, _, shape) in enumerate(self.files):
            cyc.append(("infer_" + shape, lambda _k, i=i: self._infer_op(i)))
        cyc += [("ingest", self._next_ingest)] * self.INGEST_PER_CYCLE
        return cyc

    def _next_ingest(self, k: int) -> Op:
        b = self._batch
        self._batch += 1
        self._ingest_ids.append(k)
        if self._batch >= len(self.batches):
            raise RuntimeError("ran out of ingest batches; raise N_BATCHES")
        return self._ingest_op(b)

    def start_window(self) -> None:
        """Each timed window ingests into its own fresh table from batch 0,
        so a window's op sequence depends only on the seed."""
        self.window += 1
        self._batch = 0
        self._ingest_ids: list[int] = []
        self._table_bytes = 0

    def end_window(self) -> list[tuple[int, str]]:
        """Outside the timed loop: the table holds every appended row.  A
        mismatch fails the window's last ingest op."""
        n = self.spark.table(f"bench.events_w{self.window}").count()
        want = self._batch * self.INGEST_ROWS
        if n == want:
            return []
        return [(self._ingest_ids[-1], f"table has {n} rows, appended {want}")]


def lifecycle_inputs(seed, d, sf, csv_rows, parquet_rows, n_batches, batch_rows, every):
    """Write the ``schema_lifecycle`` inputs into ``d``.  Returns the infer
    files as (path, expected type per column, rows, plan shape) and the
    ingest batches as (path, expected type per column)."""
    os.makedirs(d, exist_ok=True)
    files = []
    counts = gen.star_schema([seed, 2], d, sf, only=STAR_EXPECTED)
    for t, exp in STAR_EXPECTED.items():
        files.append((os.path.join(d, f"{t}.parquet"), exp, counts[t], t))
    for k, n in enumerate(csv_rows):
        p = os.path.join(d, f"probe_{n}.csv")
        files.append((p, gen.probe_csv([seed, 3, k], p, n), n, "probe_csv"))
    for k, n in enumerate(parquet_rows):
        p = os.path.join(d, f"probe_{n}.parquet")
        files.append((p, gen.probe_parquet([seed, 4, k], p, n), n, "probe_parquet"))
    batches = gen.ingest_batches(
        [seed, 5], os.path.join(d, "batches"), n_batches, batch_rows, every
    )
    return files, batches


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


# ================================================================ operator_mix
def canon(v):
    """One value in comparable form: floats stay floats (compared with a
    tolerance, since Spark and DuckDB sum in different orders), everything
    else becomes canonical text."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return format(v.normalize(), "f")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(canon(x)) for x in v) + "]"
    return str(v)


def table(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, canonical values, sorted (floats
    sort by six significant digits, so float noise cannot reorder rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(
        out, key=lambda t: tuple(f"{v:.6g}" if isinstance(v, float) else v for v in t)
    )


def rounding_tie(x: float, y: float) -> bool:
    """``x`` and ``y`` are rounded to the same d decimals (d <= 4) and
    differ by one unit in the last of them, at a relative difference below
    1e-6: ``round(sum, d)`` of the same doubles summed in two orders, when
    the exact sum is a half-unit tie, lands on either side of it (TPC-H Q3
    revenue, exact sum 268588.845: Spark 268588.85, DuckDB 268588.84)."""
    for d in range(1, 5):
        if round(x, d) == x and round(y, d) == y:
            diff = abs(x - y)
            return (
                math.isclose(diff, 10.0**-d, rel_tol=1e-6)
                and diff <= 1e-6 * max(abs(x), abs(y))
            )
    return False


def same_table(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not (
                    math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9) or rounding_tie(x, y)
                ):
                    return False
            elif x != y:
                return False
    return True


# registry queries: name -> (family, weight).  Every family except dedup and
# inference; the weight is the number of times the query runs per cycle.
# Three samples of each keep the cycle's median and tail op from being one
# sample of one query.
REGISTRY = {
    "shipping_priority": ("relational", 3),
    "embedding_topk": ("similarity", 3),
    "bigram_pmi": ("text", 3),
    "domain_cap_docs": ("corpus", 3),
    "stratified_sample_orders": ("sampling", 3),
    "user_retention_cohorts": ("analytics", 3),
    "merge_upsert_orders": ("governance", 3),
    "partitioned_roundtrip": ("io", 3),
    "multimodal_bytes": ("multimodal", 3),
    "streaming_enriched_counts": ("streaming", 3),
}


def _components(pairs: set[tuple[int, int]]) -> list[set[int]]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comps: dict[int, set[int]] = {}
    for x in list(parent):
        comps.setdefault(find(x), set()).add(x)
    return list(comps.values())


class OperatorMix:
    name = "operator_mix"
    # local[N]: the dedup ops shingle and hash the whole corpus; on two task
    # threads they were 30 % slower (measured on 1,000 documents)
    CORES = 4
    N_DOCS = 300
    CLONE_RATE = 0.1

    def __init__(self, spark, seed: int, sf: float, work: str, offload) -> None:
        self.spark = spark
        self.sf = sf
        self.work = work
        self.offload = offload
        self.seed = seed
        self.results: list[tuple[int, str, list[str], list[tuple]]] = []

    def make_inputs(self) -> None:
        self.data_dir = d = os.path.join(self.work, "in")
        self.corpus_path = os.path.join(d, "corpus.parquet")
        self.planted, self.probes = self.offload(
            operator_inputs, self.seed, d, self.sf, self.corpus_path, self.N_DOCS,
            self.CLONE_RATE,
        )
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [q for q in REGISTRY if q not in self.queries or q not in self.oracles]
        if missing:
            raise RuntimeError(f"registry queries gone: {missing}")

    def input_desc(self) -> dict:
        return {
            "corpus_docs": self.N_DOCS,
            "clone_rate": self.CLONE_RATE,
            "registry": {q: {"family": f, "weight": w} for q, (f, w) in REGISTRY.items()},
        }

    # -------------------------------------------------------------- dedup
    def _docs(self):
        return self.spark.read.parquet(self.corpus_path)

    def _recall(self, found: set[tuple[int, int]], floor: float) -> str | None:
        hit = len(found & self.planted) / len(self.planted)
        return None if hit >= floor else f"recall {hit:.3f} of planted clone pairs < {floor}"

    def _dedup_ops(self) -> list[tuple[str, Callable[[int], Op]]]:
        from spark_auto_schema.ops import dedup

        def pairs_of(rows, a=0, b=1):
            return {tuple(sorted((int(r[a]), int(r[b])))) for r in rows}

        def mk(name, construct, action, check):
            return name, lambda _k: Op(
                "dedup_corpus", name, construct, action, check, family="dedup"
            )

        def mh_construct():
            docs = self._docs()
            pairs = dedup.minhash_lsh_pairs(docs)
            clusters = dedup.dedup_clusters(pairs)
            surv = dedup.canonical_survivors(docs, "doc_id", clusters, "quality")
            return pairs, surv

        def mh_action(h):
            pairs, surv = h
            return pairs.collect(), surv.count(), (pairs, surv)

        def mh_check(res):
            rows, n_surv, _ = res
            found = pairs_of(rows)
            bad = self._recall(found, 0.9)
            if bad:
                return bad
            dropped = sum(len(c) - 1 for c in _components(found))
            if n_surv != self.N_DOCS - dropped:
                return f"{n_surv} survivors, expected {self.N_DOCS - dropped}"
            return None

        def collect(df):
            return df.collect(), df

        def recall_check(floor, a=0, b=1):
            return lambda res: self._recall(pairs_of(res[0], a, b), floor)

        probes = self.probes
        probe_set = set(probes)
        clones_of_probes = {
            b if a in probe_set else a
            for a, b in self.planted
            if (a in probe_set) != (b in probe_set)
        }

        def contamination_check(res):
            hits = {int(r[0]) for r in res[0]}
            if hits & probe_set:
                return "probe documents reported as contaminated"
            if not clones_of_probes <= hits:
                return "a clone of a probe document was not flagged"
            return None

        return [
            mk("minhash_clusters_survivors", mh_construct, mh_action, mh_check),
            mk("simhash_near_dup_pairs",
               lambda: dedup.simhash_near_dup_pairs(self._docs()), collect, recall_check(0.5)),
            mk("ngram_jaccard_pairs",
               lambda: dedup.ngram_jaccard_pairs(self._docs()), collect, recall_check(0.9)),
            mk("containment_pairs",
               lambda: dedup.containment_pairs(self._docs()), collect, recall_check(0.9)),
            mk("paragraph_minhash_pairs",
               lambda: dedup.paragraph_minhash_pairs(self._docs()), collect, recall_check(0.9)),
            mk("contamination_check",
               lambda: dedup.contamination_check(self._docs(), probes), collect,
               contamination_check),
        ]

    # ----------------------------------------------------------- registry
    def _registry_op(self, q: str, family: str) -> Callable[[int], Op]:
        fn = self.queries[q]

        def construct():
            return fn(self.spark, self.data_dir)

        def action(df):
            return [tuple(r) for r in df.collect()], list(df.columns), df

        def make(k: int) -> Op:
            def check(res):
                rows, cols, _ = res
                self.results.append((k, q, cols, table(cols, rows)))
                return None  # compared with the oracle after the timed loop

            return Op("registry_mix", q, construct, action, check, family=family)

        return make

    def cycle(self) -> list[tuple[str, Callable[[int], Op]]]:
        cyc = self._dedup_ops()
        for q, (fam, w) in REGISTRY.items():
            cyc += [(q, self._registry_op(q, fam))] * w
        return cyc

    def start_window(self) -> None:
        self.results = []

    def end_window(self) -> list[tuple[int, str]]:
        """Outside the timed loop: compare every registry result with its
        DuckDB oracle.  Returns (op position, reason) for each mismatch."""
        oracles = {q: self.oracles[q] for q in REGISTRY}
        return self.offload(compare_with_oracles, self.data_dir, oracles, self.results)


def operator_inputs(seed, d, sf, corpus_path, n_docs, clone_rate):
    """Write the ``operator_mix`` inputs into ``d``: the star-schema tables
    and the clone corpus.  Returns the planted pairs and the probe ids."""
    os.makedirs(d, exist_ok=True)
    gen.star_schema([seed, 2], d, sf)
    return gen.clone_corpus([seed, 6], corpus_path, n_docs, clone_rate)


def compare_with_oracles(data_dir, oracles, results) -> list[tuple[int, str]]:
    """Compare each (op position, query, columns, rows) result with the
    query's DuckDB oracle over the same input files.  Returns (op position,
    reason) for each mismatch."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in gen.STAR_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        want: dict[str, tuple[list[str], list[tuple]]] = {}
        bad = []
        for k, q, cols, got in results:
            if q not in want:
                tbl = con.sql(oracles[q]).arrow()
                ocols = tbl.schema.names
                orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
                want[q] = (ocols, table(ocols, orows))
            ocols, om = want[q]
            if sorted(cols) != sorted(ocols):
                bad.append((k, f"columns {sorted(cols)} != {sorted(ocols)}"))
            elif not same_table(got, om):
                bad.append((k, f"{len(got)} rows differ from the oracle's {len(om)}"))
        return bad
    finally:
        con.close()
