"""The benchmark's workloads: what one pass runs and how its output is checked.

Each operation runs in two timed phases, ``build`` (the library call that
returns a DataFrame, including any eager jobs inside it) and ``exec`` (a noop
write of that DataFrame). The exec phase carries an Observation with the row
count and an order-insensitive fingerprint, so every pass checks its own
output without an extra job.
"""

from __future__ import annotations

import importlib.util
import os
from contextlib import ExitStack

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import __spark_entry__ as entry
from preprocessor_spark import Preprocessor, persist_scope
from preprocessor_spark.functions import numerical
from preprocessor_spark.preprocessor import MAX_COLLECT_LABELS

from spans import Tracer, udf_eval_nodes, wrapped

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREP_PARAMS = {"scaling": "quantile", "num_fill_null": "interpolate"}
#: llm_data queries, in pass order, and which of them carry a DuckDB oracle
#: that is cheap enough to run once per run
LLM_QUERIES = [
    "pipeline_llm_corpus",
    "dedup_connected_components",
    "dsir_select_docs",
    "knn_bruteforce",
    "knn_ivfpq",
]
LLM_ORACLE_CHECKED = ["pipeline_llm_corpus", "dsir_select_docs", "knn_bruteforce"]
#: the library documents a 1e-3 float round trip (tests/test_inverse_transform.py)
ROUND_TRIP_TOL = 1e-3


def materialize(df: DataFrame) -> tuple[int, str]:
    """Noop-write ``df``; return its row count and an order-insensitive
    fingerprint, both computed inside the same job."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(2_147_483_647))).alias("s"),
    ).write.format("noop").mode("overwrite").save()
    m = obs.get
    return int(m["n"]), f"{m['n']}:{m['x']}:{m['s']}"


class OpResult:
    def __init__(self, name: str):
        self.name = name
        self.ok = True
        self.error: str | None = None
        self.rows: int | None = None
        self.fingerprint: str | None = None

    def fail(self, why: str) -> None:
        self.ok = False
        self.error = self.error or why

    def as_dict(self) -> dict:
        return {k: v for k, v in vars(self).items() if v is not None}


def _run_op(tracer: Tracer, op: OpResult, wl: str, pass_no: int, layer: str,
            build, traced: bool, keep: dict) -> DataFrame | None:
    """Run build then exec for one operation, recording both phases."""
    group = f"{wl}/{pass_no}/{op.name}"
    try:
        with tracer.span(layer, f"{op.name}.build", group=f"{group}/build", traced=traced):
            df = build()
        if not isinstance(df, DataFrame):
            return df
        with tracer.span(layer, f"{op.name}.exec", group=f"{group}/exec", traced=traced):
            op.rows, op.fingerprint = materialize(df)
        if traced:
            tracer.record("udf", f"{op.name}.eval_nodes", count=udf_eval_nodes(df), op=op.name)
        first = keep.setdefault(op.name, op.fingerprint)
        if first != op.fingerprint:
            op.fail(f"fingerprint {op.fingerprint} differs from first pass {first}")
        return df
    except Exception as e:  # an operation failure is counted, never fatal
        op.fail(f"{type(e).__name__}: {str(e)[:300]}")
        return None


class PrepWorkload:
    """Preprocessor fit → transform → inverse_transform over one table."""

    #: the median of three passes ignores one pass slowed by a burst of load
    #: on the host, which moves the mean of two by half the burst
    STEADY_PASSES = 3

    def __init__(self, name: str, spark, in_dir: str, props: dict):
        self.name = name
        self.path = os.path.join(in_dir, "prep.parquet")
        self.n_rows = props["rows"]
        self.df = spark.read.parquet(self.path)
        self._first: dict = {}
        self.last: Preprocessor | None = None
        self.last_back: DataFrame | None = None

    def traced_wrappers(self, tracer: Tracer) -> ExitStack:
        stack = ExitStack()
        stack.enter_context(wrapped(numerical, "apply_order_dependent_fills", tracer, "functions"))
        stack.enter_context(wrapped(numerical, "fit_quantile_landmarks", tracer, "functions"))
        return stack

    def run_pass(self, tracer: Tracer, pass_no: int, traced: bool) -> list[OpResult]:
        fit, tr, inv = OpResult("fit"), OpResult("transform"), OpResult("inverse")
        holder: dict = {}
        with persist_scope():
            def build_fit():
                holder["prep"] = Preprocessor(self.df, excluded_col=["id"], **PREP_PARAMS)
                return holder["prep"]

            _run_op(tracer, fit, self.name, pass_no, "preprocessor", build_fit, traced, self._first)
            prep = holder.get("prep")
            if prep is None:
                tr.fail("fit failed")
                inv.fail("fit failed")
                return [fit, tr, inv]
            state = prep.state.to_json()
            if self._first.setdefault("state", state) != state:
                fit.fail("fitted state differs from the first pass")
            out = _run_op(tracer, tr, self.name, pass_no, "preprocessor",
                          lambda: prep.transform(self.df), traced, self._first)
            back = None
            if out is None:
                inv.fail("transform failed")
            else:
                if traced:
                    tracer.record("preprocessor", "out_cols", count=len(out.columns))
                back = _run_op(tracer, inv, self.name, pass_no, "preprocessor",
                               lambda: prep.inverse_transform(out), traced, self._first)
            for op in (tr, inv):
                if op.rows is not None and op.rows != self.n_rows:
                    op.fail(f"{op.rows} rows out, {self.n_rows} in")
        # the checks re-read the last pass's lazy output rather than running
        # transform's eager jobs again
        self.last, self.last_back = prep, back
        return [fit, tr, inv]

    # ------------------------------------------------------------ checks

    def checks(self) -> list[tuple[str, bool, str]]:
        """(op, ok, detail) for the once-per-run output checks."""
        prep = self.last
        if prep is None:
            return [("fit", False, "no fitted preprocessor")]
        st = prep.state
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW t AS SELECT * FROM '{self.path}'")
            out = [self._check_stats(con, st), self._check_labels(con, st)]
        finally:
            con.close()
        out.append(self._check_round_trip(prep, self.last_back))
        return out

    def _check_stats(self, con, st) -> tuple[str, bool, str]:
        bad = []
        n = con.execute("SELECT count(*) FROM t").fetchone()[0]
        if n != st.n_rows:
            bad.append(f"n_rows {st.n_rows} vs {n}")
        for c in st.numerical_features:
            clean = f"CASE WHEN isinf({c}) OR isnan({c}) THEN NULL ELSE {c} END"
            row = con.execute(
                f"SELECT min({clean}), max({clean}), avg({clean}), stddev_samp({clean}) FROM t"
            ).fetchone()
            for key, want in zip(("min", "max", "mean", "std"), row):
                got = st.numeric_stats[c][key]
                if abs(got - want) > 1e-9 * max(1.0, abs(want)):
                    bad.append(f"{c}.{key} {got!r} vs duckdb {want!r}")
        return ("fit", not bad, "; ".join(bad) or "numeric stats match duckdb")

    def _check_labels(self, con, st) -> tuple[str, bool, str]:
        """Rare label sets, or the kept label sets of a column with more than
        MAX_COLLECT_LABELS labels."""
        bad = []
        thr = st.cat_labels_threshold * st.n_rows
        for c in st.categorical_features:
            counts = con.execute(f"SELECT {c}, count(*) FROM t GROUP BY {c}").fetchall()
            if len(counts) > MAX_COLLECT_LABELS:
                kind, got = "kept", set(st.kept_labels.get(c, []))
                want = {v for v, k in counts if k >= thr and v is not None}
            else:
                kind, got = "rare", set(st.rare_labels.get(c, []))
                want = {v for v, k in counts if k < thr} if len(counts) > 2 else set()
            if got != want:
                bad.append(f"{c}: {kind} labels {sorted(map(str, got))} vs duckdb {sorted(map(str, want))}")
        return ("fit", not bad, "; ".join(bad) or "rare and kept label sets match duckdb")

    def _check_round_trip(self, prep, back: DataFrame | None) -> tuple[str, bool, str]:
        """inverse_transform(transform(x)) == x on rows with no null, no
        infinity, no rare label and no label outside a kept set.

        The comparison runs in pandas on the collected output: as a Spark
        join, with every rare label a literal in its filter, it took 5-6 s
        at 16,000 rows, about twice a pass's inverse_transform."""
        if back is None:
            return ("inverse", False, "no inverse_transform output")
        st = prep.state
        j = pq.read_table(self.path).to_pandas().merge(
            back.toPandas(), on="id", how="left", suffixes=("", "__b"), indicator=True
        )
        clean = np.ones(len(j), dtype=bool)
        for c in st.numerical_features:
            clean &= np.isfinite(j[c].to_numpy(dtype="float64", na_value=np.nan))
        for c in st.datetime_features:
            clean &= j[c].notna().to_numpy()
        for c in st.categorical_features:
            clean &= j[c].notna().to_numpy()
            clean &= ~j[c].isin([v for v in st.rare_labels.get(c, []) if v is not None]).to_numpy()
            if c in st.kept_labels:
                clean &= j[c].isin(st.kept_labels[c]).to_numpy()
        wrong = np.zeros(len(j), dtype=bool)
        with np.errstate(invalid="ignore"):
            for c in st.numerical_features:
                a = j[c].to_numpy(dtype="float64", na_value=np.nan)
                v = j[f"{c}__b"].to_numpy(dtype="float64", na_value=np.nan)
                wrong |= np.isnan(v) | (np.abs(v - a) > ROUND_TRIP_TOL * np.maximum(1.0, np.abs(a)))
        for c in st.datetime_features + st.categorical_features + st.boolean_features:
            a, v = j[c], j[f"{c}__b"]
            # null-safe equality, as Spark's <=>
            wrong |= ~((a == v) | (a.isna() & v.isna())).to_numpy()
        n, lost = len(j), int((j["_merge"] == "left_only").sum())
        n_clean, n_wrong = int(clean.sum()), int((clean & wrong).sum())
        ok = n == self.n_rows and lost == 0 and n_wrong == 0 and n_clean > 0
        detail = f"rows {n}, clean {n_clean}, restored wrong {n_wrong}, lost {lost}"
        return ("inverse", ok, detail)


class LlmWorkload:
    """Registry queries over a seeded documents + embeddings directory.

    The first steady pass still runs about 10% slower than the next ones
    while the JVM compiles the queries' code paths. Over two sets of 10
    seeds the mean of the first two steady passes still spread less across
    runs than the median of three (interquartile range 0.23 and 0.25 of the
    median, against 0.29 and 0.29), and it keeps a run one pass shorter."""

    STEADY_PASSES = 2

    def __init__(self, name: str, spark, in_dir: str, props: dict):
        self.name = name
        self.in_dir = in_dir
        self.queries = entry.queries()
        self.spark = spark
        self._first: dict = {}
        #: each query's DataFrame from the last pass, which the checks re-read
        self.last: dict[str, DataFrame | None] = {}

    def traced_wrappers(self, tracer: Tracer) -> ExitStack:
        return ExitStack()

    def run_pass(self, tracer: Tracer, pass_no: int, traced: bool) -> list[OpResult]:
        ops = []
        for q in LLM_QUERIES:
            op = OpResult(q)
            fn = self.queries[q]
            self.last[q] = _run_op(tracer, op, self.name, pass_no, "query",
                                   lambda fn=fn: fn(self.spark, self.in_dir), traced, self._first)
            if traced and op.rows is not None:
                tracer.record("query", f"{q}.rows_out", count=op.rows, op=q)
            ops.append(op)
        return ops

    def checks(self) -> list[tuple[str, bool, str]]:
        """Oracle-backed queries against their DuckDB twins, compared with
        the canonicalization of tests/test_queries.py."""
        tq = _load_test_queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        out = []
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.in_dir, t + '.parquet')}'")
            for q in LLM_ORACLE_CHECKED:
                if self.last.get(q) is None:
                    out.append((q, False, "no output from the last pass"))
                    continue
                try:
                    got = self.last[q].toPandas()
                    want = con.execute(oracles[q]).fetchdf()
                    tq._compare(got, want, q)
                    out.append((q, True, f"equal to oracle ({len(got)} rows)"))
                except AssertionError as e:
                    out.append((q, False, f"oracle mismatch: {str(e)[:300]}"))
                except Exception as e:  # a failed check is counted, never fatal
                    out.append((q, False, f"{type(e).__name__}: {str(e)[:300]}"))
        finally:
            con.close()
        return out


def _load_test_queries():
    spec = importlib.util.spec_from_file_location(
        "perfbench_test_queries", os.path.join(ROOT, "tests", "test_queries.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {"prep_temporal": PrepWorkload, "llm_data": LlmWorkload}
