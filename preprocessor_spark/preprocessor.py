"""Spark-native Preprocessor: fit / transform / inverse_transform.

Re-expresses the reference's ``Preprocessor``
(`/root/reference/clearbox_preprocessor/preprocessor.py:18-667`) on the
PySpark DataFrame API with a Spark-shaped execution model:

- **fit** runs a bounded number of Spark jobs — one multi-aggregate pass for
  all numeric/datetime statistics, one stacked groupBy-count pass (read by
  one collect) for all categorical value counts, one approxQuantile pass
  when quantile/kbins scaling is requested — and stores the results as
  small driver-side fitted state (per-column scalars + label lists). The
  reference instead collects the whole table and loops per column
  (`preprocessor.py:290-300`). Label lists and landmark arrays cross py4j
  in bulk (``functions/bulk.py``), never one call per value.
- **transform** is a single narrow stage of column expressions (no shuffle,
  no Python) except when order-dependent ops are requested: datetime
  interpolation / forward / backward / interpolate fills need a total order.
  They run in one pass over the reference's order — the first datetime
  column, then ingest order (`datetime_transformer.py:98`) — as
  range-bucketed windows with a carry across bucket edges, or per series
  key with ``partition_by``. The buckets are the output partitions, in
  order and each sorted, which is the reference's output sort; only the
  per-key route sorts again.
- **inverse_transform** is again a pure expression chain.

Fitted state is JSON-serializable (``save``/``load``) — the reference has no
persistence (SURVEY §7.5; added because it is cheap).

Semantics parity is documented per-function in ``functions/*.py``; the
docstrings there cite reference file:line for every rule (empty-string → null
→ "None" category, rare-label → 'other', 98% dominance discard, ±inf clamp,
sentinel null codec, lexicographic label encoding, fold-ordered one-hot
decode, float-epoch-seconds datetimes, ...).
"""

from __future__ import annotations

import json
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import bulk
from .functions import categorical as C
from .functions import datetime_fn as D
from .functions import numerical as N

ML_TASKS = {"classification", "regression", None}
DOMINANCE_THRESHOLD = 0.98  # preprocessor.py:306 (hardcoded in reference too)
MAX_COLLECT_LABELS = 10_000  # scale guard: never collect more labels than this per column
MAX_UNSEEN_REPORT = 50  # scale guard: cap the unseen-label sample collected for the warning

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_DATETIME_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)


@dataclass
class DatetimeColState:
    origin: str  # "native" | "string"
    dtype: str  # original simple dtype string ("timestamp", "date", "string")
    py_fmt: str | None = None
    java_fmt: str | None = None
    kind: str | None = None  # datetime | date | time
    stats: dict = field(default_factory=dict)  # min/max/mean/std of epoch seconds


@dataclass
class FittedState:
    schema_json: str
    column_order: list[str]
    boolean_features: list[str]
    datetime_features: list[str]
    numerical_features: list[str]
    categorical_features: list[str]
    excluded_col: list[str]
    discarded_features: list[str]
    rare_labels: dict[str, list]  # col -> raw fit-time labels below threshold
    kept_labels: dict[str, list]  # col -> labels kept (fallback mode at extreme cardinality)
    categories: dict[str, list[str]]  # col -> fitted one-hot labels (sorted, post-shrink)
    numeric_stats: dict[str, dict]  # col -> {min,max,mean,std}
    datetime_cols: dict[str, DatetimeColState]
    quantile_landmarks: dict[str, list[float]]
    kbins_splits: dict[str, list[float]]
    n_rows: int
    scaling: str
    num_fill_null: object
    n_bins: int
    cat_labels_threshold: float
    unseen_labels: str
    ml_task: str | None
    target_column: str | None
    target_labels: list[str] | None  # classification
    target_min_max: list[float] | None  # regression
    partition_by: list[str] | None
    # discard provenance (reference preprocessor.py:151,311,325 + README
    # get_discarded_info): WHY each column was dropped, and the content of
    # single-valued ones. Tracked unconditionally — the values fall out of
    # stats jobs 1/2 for free, unlike the reference where recording them
    # "will considerably slow down the processing operation" (README:35).
    discarded_reasons: dict = field(default_factory=dict)  # col -> reason
    single_value_columns: dict = field(default_factory=dict)  # col -> its one value
    get_discarded_info: bool = False

    def to_json(self) -> str:
        d = dict(self.__dict__)
        d["datetime_cols"] = {k: vars(v) for k, v in self.datetime_cols.items()}
        return json.dumps(d)

    @classmethod
    def from_json(cls, s: str) -> "FittedState":
        d = json.loads(s)
        d["datetime_cols"] = {k: DatetimeColState(**v) for k, v in d["datetime_cols"].items()}
        return cls(**d)


def _simple_dtype(dt: T.DataType) -> str:
    return dt.simpleString()


class Preprocessor:
    """Drop-in analogue of the reference ``Preprocessor`` for Spark DataFrames.

    Constructor = fit (parity with `preprocessor.py:109-194`). All heavy
    per-column Python loops from the reference become batched Spark jobs.
    """

    NUM_FILL_NULL_STRATEGIES = N.FILL_STRATEGIES
    SCALING_STRATEGIES = N.SCALING_STRATEGIES
    ML_TASKS = ML_TASKS

    def __init__(
        self,
        data: DataFrame,
        cat_labels_threshold: float = 0.02,
        excluded_col: list[str] | None = None,
        time_id: str | None = None,
        missing_values_threshold: float = 0.999,  # accepted for parity; unused by the reference too
        n_bins: int = 0,
        scaling: str = "none",
        num_fill_null="none",
        unseen_labels: str = "ignore",
        ml_task: str | None = None,
        target_column: str | None = None,
        partition_by: list[str] | None = None,
        get_discarded_info: bool = False,
    ):
        excluded_col = list(excluded_col or [])
        # -- validation (preprocessor.py:124-138) --
        if not 0 <= cat_labels_threshold <= 1:
            raise ValueError("Invalid value for cat_labels_threshold")
        if not 0 <= missing_values_threshold <= 1:
            raise ValueError("Invalid value for missing_values_threshold")
        if ml_task not in ML_TASKS:
            raise ValueError("Invalid value for ml_task")
        if target_column is not None and target_column not in data.columns:
            raise ValueError("The target column is not present in the dataset")
        for col in excluded_col:
            if col not in data.columns:
                raise ValueError(f"The excluded column {col} is not present in the dataset")
        if scaling not in N.SCALING_STRATEGIES:
            raise ValueError("Invalid value for scaling")
        if num_fill_null not in N.FILL_STRATEGIES and not isinstance(num_fill_null, (int, float)):
            raise ValueError("Invalid value for num_fill_null")
        if unseen_labels not in ("ignore", "error"):
            raise ValueError("Invalid value for unseen_labels")
        if scaling == "kbins" and n_bins <= 0:
            raise ValueError("Specify a number of bins (n_bins) greater than 0.")

        if ml_task is not None and target_column is None:
            warnings.warn("The Machine Learning task was specified but the target column was not specified.")
        if target_column is not None and ml_task is None:
            warnings.warn("The target column was specified but the Machine Learning task was not specified.")
        if target_column is not None and target_column not in excluded_col:
            excluded_col.append(target_column)  # preprocessor.py:168-169

        self.time_id = time_id
        self._fit(
            data,
            cat_labels_threshold=cat_labels_threshold,
            excluded_col=excluded_col,
            n_bins=n_bins,
            scaling=scaling,
            num_fill_null=num_fill_null,
            unseen_labels=unseen_labels,
            ml_task=ml_task,
            target_column=target_column,
            partition_by=partition_by,
            get_discarded_info=get_discarded_info,
        )

    # ------------------------------------------------------------------ fit

    def _fit(self, data: DataFrame, **p) -> None:
        schema = data.schema
        excluded = p["excluded_col"]

        # dtype-based feature classing (preprocessor.py:196-219), widened to
        # all numeric types per SURVEY §1.2, kept in schema order for
        # determinism (the reference uses unordered sets).
        boolean_features, datetime_features, numerical_features, categorical_features = [], [], [], []
        for f in schema.fields:
            if f.name in excluded:
                continue
            if isinstance(f.dataType, T.BooleanType):
                boolean_features.append(f.name)
            elif isinstance(f.dataType, _DATETIME_TYPES):
                datetime_features.append(f.name)
            elif isinstance(f.dataType, _NUMERIC_TYPES):
                numerical_features.append(f.name)
            elif isinstance(f.dataType, T.StringType):
                categorical_features.append(f.name)

        # -- content-based datetime inference on a 100-row driver sample
        # (datetime_transformer.py:57-80). Excluded columns are respected
        # (divergence: the reference's inference loop ignores exclusions).
        sample_rows = data.limit(100).collect()
        dt_cols: dict[str, DatetimeColState] = {}
        for name in datetime_features:
            dt_cols[name] = DatetimeColState(
                origin="native", dtype=_simple_dtype(schema[name].dataType)
            )
        for name in list(categorical_features):
            vals = [r[name] for r in sample_rows]
            non_null = [v for v in vals if v is not None]
            if not non_null:
                continue
            if all(D.is_date_string(v) for v in non_null):
                fmt = D.probe_format(non_null)
                if fmt is None:
                    # Divergence: the reference keeps unparseable-but-datey
                    # strings in datetime_features with no conversion; we
                    # leave them categorical.
                    continue
                py_fmt, java_fmt, kind = fmt
                dt_cols[name] = DatetimeColState(
                    origin="string", dtype="string", py_fmt=py_fmt, java_fmt=java_fmt, kind=kind
                )
                datetime_features.append(name)
                categorical_features.remove(name)  # preprocessor.py:174-175

        # converted frame: datetime columns as float epoch seconds
        conv = self._epoch_converted(data, dt_cols)

        # -- stats job 1: one multi-aggregate pass for every numeric +
        # datetime column (min/max/mean/std/approx distinct/null presence)
        # plus the row count. Reference: per-column eager loops over a
        # collected table (preprocessor.py:290-300).
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in numerical_features:
            cc = N.clamp_inf(F.col(c).cast("double"))
            aggs += [
                F.min(cc).alias(f"min__{c}"),
                F.max(cc).alias(f"max__{c}"),
                F.mean(cc).alias(f"mean__{c}"),
                F.stddev_samp(cc).alias(f"std__{c}"),
                F.approx_count_distinct(F.col(c)).alias(f"nd__{c}"),
                F.max(F.col(c).isNull().cast("int")).alias(f"hasnull__{c}"),
            ]
        for c in datetime_features:
            cc = F.col(c)
            aggs += [
                F.min(cc).alias(f"min__{c}"),
                F.max(cc).alias(f"max__{c}"),
                F.mean(cc).alias(f"mean__{c}"),
                F.stddev_samp(cc).alias(f"std__{c}"),
            ]
        row = conv.agg(*aggs).collect()[0].asDict()
        n_rows = int(row["__n"])

        numeric_stats = {
            c: {
                "min": row[f"min__{c}"],
                "max": row[f"max__{c}"],
                "mean": row[f"mean__{c}"],
                "std": row[f"std__{c}"],
            }
            for c in numerical_features
        }
        for c in datetime_features:
            dt_cols[c].stats = {
                "min": row[f"min__{c}"],
                "max": row[f"max__{c}"],
                "mean": row[f"mean__{c}"],
                "std": row[f"std__{c}"],
            }

        discarded: list[str] = []
        discarded_reasons: dict[str, str] = {}
        single_value_columns: dict[str, object] = {}
        # numeric single-value discard (preprocessor.py:319-325): value_counts
        # has one row iff (distinct non-null + null-present) == 1.
        for c in numerical_features:
            n_values = int(row[f"nd__{c}"]) + int(row[f"hasnull__{c}"])
            if n_rows == 0 or n_values <= 1:
                discarded.append(c)
                discarded_reasons[c] = "contains a single value"
                # the single value is the column min (None if all-null)
                single_value_columns[c] = row[f"min__{c}"]
                warnings.warn(f"\n{c} contains a single value and was discarded")

        # -- stats job 2: stacked categorical value counts — ONE shuffle for
        # all columns instead of a per-column pass (preprocessor.py:292-295).
        rare_labels: dict[str, list] = {}
        kept_labels: dict[str, list] = {}
        categories: dict[str, list[str]] = {}
        if categorical_features and n_rows > 0:
            kvs = F.array(
                *[
                    F.struct(F.lit(c).alias("c"), F.col(c).alias("v"))
                    for c in categorical_features
                ]
            )
            counts = (
                data.select(F.explode(kvs).alias("kv"))
                .groupBy("kv.c", "kv.v")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            # per-column label count and top count ride along as windows
            # over the same partitioning, so one collect reads one shuffle
            by_c = Window.partitionBy("c")
            ranked = counts.withColumns(
                {
                    "__r": F.row_number().over(
                        by_c.orderBy(F.desc("cnt"), F.asc_nulls_first("v"))
                    ),
                    "n_values": F.count(F.lit(1)).over(by_c),
                    "max_cnt": F.max("cnt").over(by_c),
                }
            )
            top = ranked.filter(F.col("__r") <= MAX_COLLECT_LABELS).collect()
            col_summary: dict[str, tuple[int, int]] = {}
            by_col: dict[str, list] = {c: [] for c in categorical_features}
            for r in top:
                col_summary.setdefault(r["c"], (int(r["n_values"]), int(r["max_cnt"])))
                by_col[r["c"]].append((r["v"], int(r["cnt"])))

            for c in categorical_features:
                n_values, max_cnt = col_summary.get(c, (0, 0))
                pairs = by_col.get(c, [])
                # single-value / 98% dominance discard (preprocessor.py:305-311)
                if n_values <= 1 or max_cnt >= n_rows * DOMINANCE_THRESHOLD:
                    discarded.append(c)
                    if n_values <= 1:
                        discarded_reasons[c] = "contains a single value"
                        single_value_columns[c] = pairs[0][0] if pairs else None
                    else:
                        discarded_reasons[c] = (
                            f"one value covers >= {DOMINANCE_THRESHOLD:.0%} of rows"
                        )
                        # the dominant label: pairs are (value, count) sorted
                        # by count desc from the ranked collect
                        single_value_columns[c] = pairs[0][0] if pairs else None
                    warnings.warn(f"\n{c} contains a single value and was discarded")
                    continue
                thr = p["cat_labels_threshold"] * n_rows
                if n_values <= MAX_COLLECT_LABELS:
                    rare = [v for v, cnt in pairs if cnt < thr]
                    if rare and n_values > 2:  # preprocessor.py:315
                        rare_labels[c] = rare
                else:
                    # extreme cardinality: enumerate the kept labels instead
                    # (≤ 1/threshold of them) — same semantics, bounded state.
                    kept = [v for v, cnt in pairs if cnt >= thr and v is not None]
                    kept_labels[c] = kept
                    warnings.warn(
                        f"\n{c} has {n_values} distinct labels; storing kept set ({len(kept)}) instead of rare list"
                    )
                # fitted one-hot labels: post-clean/shrink label set, sorted
                rare_set = set(rare_labels.get(c, ()))
                kept_set = set(kept_labels[c]) if c in kept_labels else None
                mapped: set[str] = set()
                for v, cnt in pairs:
                    if v is None or v in ("", " "):
                        mapped.add(C.NULL_LABEL)
                    elif v in rare_set or (kept_set is not None and v not in kept_set):
                        mapped.add(C.OTHER_LABEL)
                    else:
                        mapped.add(v)
                categories[c] = sorted(mapped)
        elif categorical_features:
            for c in categorical_features:
                categories[c] = []

        boolean_features = [c for c in boolean_features if c not in discarded]
        numerical_features = [c for c in numerical_features if c not in discarded]
        categorical_features = [c for c in categorical_features if c not in discarded]
        datetime_features = [c for c in datetime_features if c not in discarded]

        # -- stats job 3 (optional): quantile landmarks / kbins splits on the
        # shrunk+filled frame, one approxQuantile pass for all columns.
        quantile_landmarks: dict[str, list[float]] = {}
        kbins_splits: dict[str, list[float]] = {}
        if numerical_features and p["scaling"] in ("quantile", "kbins") and n_rows > 0:
            filled = conv.select(
                *[
                    self._filled_numeric_expr(c, numeric_stats[c], p["num_fill_null"], p["scaling"]).alias(c)
                    for c in numerical_features
                ]
            )
            if p["scaling"] == "quantile":
                n_q = max(2, min(1000, n_rows))
                quantile_landmarks = N.fit_quantile_landmarks(filled, numerical_features, n_q)
            else:
                import numpy as np

                probs = np.linspace(0, 1, p["n_bins"] + 1)[1:-1]
                res = bulk.approx_quantile(filled, numerical_features, probs, 1e-4)
                kbins_splits = dict(zip(numerical_features, res))

        # -- target encoder (preprocessor.py:184-194)
        target_labels = None
        target_min_max = None
        tc = p["target_column"]
        if tc is not None:
            if p["ml_task"] == "classification":
                target_labels = sorted(
                    r[0] for r in data.select(tc).distinct().collect() if r[0] is not None
                )
            elif p["ml_task"] == "regression":
                r = data.agg(F.min(tc).alias("mn"), F.max(tc).alias("mx")).collect()[0]
                target_min_max = [float(r["mn"]), float(r["mx"])]

        self.state = FittedState(
            schema_json=schema.json(),
            column_order=[f.name for f in schema.fields],
            boolean_features=boolean_features,
            datetime_features=datetime_features,
            numerical_features=numerical_features,
            categorical_features=categorical_features,
            excluded_col=excluded,
            discarded_features=discarded,
            rare_labels=rare_labels,
            kept_labels=kept_labels,
            categories=categories,
            numeric_stats=numeric_stats,
            datetime_cols=dt_cols,
            quantile_landmarks=quantile_landmarks,
            kbins_splits=kbins_splits,
            n_rows=n_rows,
            scaling=p["scaling"],
            num_fill_null=p["num_fill_null"],
            n_bins=p["n_bins"],
            cat_labels_threshold=p["cat_labels_threshold"],
            unseen_labels=p["unseen_labels"],
            ml_task=p["ml_task"],
            target_column=tc,
            target_labels=target_labels,
            target_min_max=target_min_max,
            partition_by=p["partition_by"],
            discarded_reasons=discarded_reasons,
            single_value_columns=single_value_columns,
            get_discarded_info=p["get_discarded_info"],
        )
        self._set_parity_attributes()

    def _set_parity_attributes(self) -> None:
        """Reference attribute parity (preprocessor.py:97-98, README:147),
        derived from the fitted state so fit and load agree."""
        st = self.state
        self.discarded = (list(st.discarded_features), dict(st.rare_labels))
        self.single_value_columns = dict(st.single_value_columns)

    # ------------------------------------------------------- helpers

    @staticmethod
    def _epoch_converted(df: DataFrame, dt_cols: dict[str, DatetimeColState]) -> DataFrame:
        exprs = []
        for f in df.schema.fields:
            st = dt_cols.get(f.name)
            if st is None:
                exprs.append(F.col(f.name))
            elif st.origin == "native":
                exprs.append(D.native_to_epoch_expr(F.col(f.name)).alias(f.name))
            else:
                exprs.append(
                    D.parse_to_epoch_expr(F.col(f.name), st.java_fmt, st.kind).alias(f.name)
                )
        return df.select(*exprs)

    def _filled_numeric_expr(self, c: str, stats: dict, strategy, scaling: str):
        col = N.clamp_inf(F.col(c).cast("double"))
        if strategy in ("forward", "backward", "interpolate"):
            # order-dependent fills can't run inside a fit aggregation;
            # quantile/kbins landmarks simply ignore nulls here.
            return col
        return N.fill_expr(col, strategy, scaling, stats)

    @property
    def numerical_features(self):
        return tuple(self.state.numerical_features)

    @property
    def categorical_features(self):
        return tuple(self.state.categorical_features)

    @property
    def datetime_features(self):
        return tuple(self.state.datetime_features)

    @property
    def boolean_features(self):
        return tuple(self.state.boolean_features)

    @property
    def discarded_features(self):
        return list(self.state.discarded_features)

    def get_discarded_features_reason(self) -> dict[str, str]:
        """Why each column was discarded (reference preprocessor.py:151,
        311,325 and README:146-151). Gated on ``get_discarded_info`` for
        surface parity — though unlike the reference, recording the reasons
        costs nothing here (they fall out of the fit stats jobs), so the
        flag never slows fit down."""
        if not self.state.get_discarded_info:
            raise AttributeError(
                "get_discarded_features_reason() requires the Preprocessor "
                "to be constructed with get_discarded_info=True"
            )
        reasons = dict(self.state.discarded_reasons)
        for col, reason in reasons.items():
            line = f"{col} was discarded: {reason}"
            if col in self.state.single_value_columns:
                line += f" (value: {self.state.single_value_columns[col]!r})"
            print(line)
        return reasons

    def get_single_valued_columns(self) -> dict:
        """Values of the single-valued discarded columns (README:34,147)."""
        if not self.state.get_discarded_info:
            raise AttributeError(
                "get_single_valued_columns() requires the Preprocessor "
                "to be constructed with get_discarded_info=True"
            )
        return dict(self.state.single_value_columns)

    def get_numerical_features(self):
        return self.numerical_features

    def get_categorical_features(self):
        return self.categorical_features

    def get_features_sizes(self):
        """Parity with preprocessor.py:640-659."""
        numerical_sizes = [len(self.state.numerical_features)] if self.state.numerical_features else []
        categorical_sizes = [len(self.state.categories[c]) for c in self.state.categorical_features]
        return numerical_sizes, categorical_sizes

    # -------------------------------------------------------- transform

    def _warn_unseen_labels(self, data: DataFrame) -> None:
        """One stacked scan that filters to out-of-fitted-set values
        SQL-side and collects at most MAX_UNSEEN_REPORT of them — known
        label sets are bounded driver state, the data never is. Columns in
        kept_labels mode are skipped: their fit-time label population was
        unbounded by design, and out-of-set values fold to 'other' anyway.
        Mirrors reference preprocessor.py:434-437 (warns, does not raise)."""
        st = self.state
        placeholders = {C.NULL_LABEL, C.OTHER_LABEL}
        checks: list[tuple[str, list[str]]] = []
        for c in st.categorical_features:
            if c in st.kept_labels or c not in data.columns:
                continue
            # a null rare label is no label: nulls are never reported
            known = (set(st.categories.get(c, [])) - placeholders) | set(
                st.rare_labels.get(c, [])
            )
            checks.append((c, sorted(known - {None})))
        if not checks:
            return
        kvs = F.array(
            *[F.struct(F.lit(c).alias("c"), F.col(c).alias("v")) for c, _ in checks]
        )
        flat = data.select(F.explode(kvs).alias("kv")).select(
            F.col("kv.c").alias("c"), F.col("kv.v").alias("v")
        )
        cond = F.lit(False)
        for c, known in checks:
            unseen_here = F.col("v").isNotNull() & ~F.col("v").isin("", " ")
            if known:
                unseen_here &= ~bulk.isin(F.col("v"), known)
            cond = cond | ((F.col("c") == c) & unseen_here)
        rows = flat.where(cond).distinct().limit(MAX_UNSEEN_REPORT).collect()
        if rows:
            by_col: dict[str, list[str]] = {}
            for r in rows:
                by_col.setdefault(r["c"], []).append(r["v"])
            report = {k: sorted(v) for k, v in sorted(by_col.items())}
            warnings.warn(
                f"New data contains unseen categorical labels: {report}", UserWarning
            )

    def transform(self, data: DataFrame) -> DataFrame:
        """Pipeline order preserved from preprocessor.py:341-461:
        shrink → drop discarded → datetime → numerical → boolean →
        one-hot → target. Everything is one expression chain, plus one
        order-dependent fill pass (N.apply_order_dependent_fills: a
        count-and-edges aggregate job, one bucket shuffle and a broadcast
        carry fix-up, or per-key windows with ``partition_by``) when
        datetime features exist or num_fill_null is forward/backward/
        interpolate.

        Output order matches the reference's sort by the first datetime
        column (``datetime_transformer.py:98``), ties in ingest order. The
        bucketed pass leaves the rows in that order physically, so it holds
        for ``collect``/``toPandas``/writes of the returned frame but not
        across a later shuffle of it; with ``partition_by`` the output is
        sorted explicitly."""
        st = self.state
        # unseen_labels='error' policy (reference preprocessor.py:434-437):
        # warn when the new data carries categorical content outside the
        # fitted label set. Costs one eager bounded job, so it only runs
        # when the caller opted into the policy.
        if st.unseen_labels == "error" and st.categorical_features:
            self._warn_unseen_labels(data)
        row_order = "__row_order"
        first_dt = st.datetime_features[0] if st.datetime_features else None
        order_strategy = st.num_fill_null in ("forward", "backward", "interpolate")
        needs_order = bool(first_dt) or order_strategy
        if needs_order and data.isStreaming:
            # every other step is a pure fitted-state projection and streams
            # as-is; order-dependent steps need a total order that a stream
            # cannot provide — fail with the reason instead of an obscure
            # sort-on-stream AnalysisException deep in the plan
            raise ValueError(
                "transform() on a streaming DataFrame is not supported when "
                "datetime features exist or num_fill_null is forward/backward/"
                "interpolate: these steps require a total row order. Fit "
                "without order-dependent steps, or process the stream with "
                "foreachBatch and transform each micro-batch."
            )
        if needs_order:
            data = data.withColumn(row_order, F.monotonically_increasing_id())

        # 1. rare-label shrink (+ ""/" "/null → "None") — preprocessor.py:397
        shrink_exprs = {}
        for c in st.categorical_features:
            if c in st.kept_labels:
                cleaned = C.clean_expr(F.col(c))
                keep = set(st.kept_labels[c]) | {C.NULL_LABEL, C.OTHER_LABEL}
                shrink_exprs[c] = F.when(
                    ~bulk.isin(cleaned, sorted(keep)), F.lit(C.OTHER_LABEL)
                ).otherwise(cleaned)
            else:
                shrink_exprs[c] = C.shrink_expr(F.col(c), st.rare_labels.get(c, []))
        if shrink_exprs:
            data = data.withColumns(shrink_exprs)

        # 2. drop discarded — preprocessor.py:399-403
        present_discards = [c for c in st.discarded_features if c in data.columns]
        if present_discards:
            data = data.drop(*present_discards)

        # 3. order-dependent fills, one pass in the reference's order: it
        # sorts by the first datetime column (datetime_transformer.py:98),
        # then interpolates datetimes and fills numerics. Ties fall back to
        # ingest order. Numerics are clamped first (fills see clamped values).
        order_fill = order_strategy and bool(st.numerical_features)
        fills = {c: "interpolate" for c in st.datetime_features}
        if first_dt:
            data = self._epoch_converted(data, st.datetime_cols)
        if order_fill:
            data = data.withColumns(
                {c: N.clamp_inf(F.col(c).cast("double")) for c in st.numerical_features}
            )
            fills.update({c: st.num_fill_null for c in st.numerical_features})
        if fills:
            data = N.apply_order_dependent_fills(
                data,
                fills,
                order_col=first_dt or row_order,
                tiebreak_col=row_order if first_dt else None,
                partition_by=st.partition_by,
            )

        # 4. datetime scaling — datetime_transformer.py:101-110
        dt_scaled = {}
        for c in st.datetime_features:
            stats = st.datetime_cols[c].stats
            if st.scaling in ("normalize", "quantile", "kbins"):
                dt_scaled[c] = N.normalize_expr(F.col(c), stats)
            elif st.scaling == "standardize":
                dt_scaled[c] = N.standardize_expr(F.col(c), stats)
        if dt_scaled:
            data = data.withColumns(dt_scaled)

        # 5. numerical path — numerical_transformer.py:105-176
        if st.numerical_features:
            num_exprs = {}
            for c in st.numerical_features:
                col = F.col(c)
                if not order_fill:
                    col = N.clamp_inf(col.cast("double"))
                    col = N.fill_expr(col, st.num_fill_null, st.scaling, st.numeric_stats[c])
                if st.scaling == "normalize":
                    col = N.normalize_expr(col, st.numeric_stats[c])
                elif st.scaling == "standardize":
                    col = N.standardize_expr(col, st.numeric_stats[c])
                elif st.scaling == "kbins":
                    labels = [str(i) for i in range(st.n_bins)]
                    col = N.kbins_expr(col, st.kbins_splits[c], labels)
                num_exprs[c] = col
            data = data.withColumns(num_exprs)
            if st.scaling == "quantile":
                q_exprs = {
                    c: N.make_quantile_transform_udf(st.quantile_landmarks[c])(F.col(c))
                    for c in st.numerical_features
                }
                data = data.withColumns(q_exprs)

        # 6. boolean → tinyint — preprocessor.py:418-421
        if st.boolean_features:
            data = data.withColumns(
                {c: F.col(c).cast("tinyint") for c in st.boolean_features}
            )

        # 7. one-hot — categorical_transformer.py:20-70: non-categorical
        # columns first (current order), then fitted dummies in fit order.
        if st.categorical_features:
            non_cat = [c for c in data.columns if c not in st.categorical_features and c != row_order]
            dummies = []
            for c in st.categorical_features:
                dummies.extend(C.onehot_exprs(c, st.categories[c]))
            keep = [F.col(c) for c in non_cat] + dummies
            if needs_order:
                keep.append(F.col(row_order))
            data = data.select(*keep)

        # 8. target — preprocessor.py:445-456
        if st.target_column is not None and st.target_column in data.columns:
            tcol = F.col(st.target_column)
            if st.ml_task == "classification":
                data = data.withColumn(
                    st.target_column, C.label_encode_expr(tcol, st.target_labels or [])
                )
            elif st.ml_task == "regression":
                lo, hi = st.target_min_max
                data = data.withColumn(st.target_column, (tcol - F.lit(lo)) / F.lit(hi - lo))

        # parity: reference sorts the whole output by the first datetime
        # column (datetime_transformer.py:98). The bucketed fill pass already
        # left the rows in that order, partition by partition, and every
        # step since is narrow; per-key windows leave them grouped by key.
        if first_dt and st.partition_by:
            data = data.orderBy(first_dt, row_order)
        if needs_order:
            data = data.drop(row_order)
        return data

    # -------------------------------------------------- inverse_transform

    def inverse_transform(self, data: DataFrame) -> DataFrame:
        """Reverse chain — preprocessor.py:464-556."""
        st = self.state
        orig_schema = T.StructType.fromJson(json.loads(st.schema_json))
        dtypes = {f.name: f.dataType for f in orig_schema.fields}

        # datetime inverse — datetime_transformer.py:113-129
        if st.datetime_features:
            exprs = {}
            for c in st.datetime_features:
                col = F.col(c)
                stats = st.datetime_cols[c].stats
                if st.scaling in ("normalize", "quantile", "kbins"):
                    col = N.denormalize_expr(col, stats)
                elif st.scaling == "standardize":
                    col = N.destandardize_expr(col, stats)
                cstate = st.datetime_cols[c]
                if cstate.origin == "string":
                    col = D.epoch_to_string_expr(col, cstate.java_fmt, cstate.kind)
                else:
                    col = D.epoch_to_native_expr(col, cstate.dtype)
                exprs[c] = col
            data = data.withColumns(exprs)

        # boolean back — preprocessor.py:522-526
        if st.boolean_features:
            data = data.withColumns(
                {c: F.col(c).cast("boolean") for c in st.boolean_features if c in data.columns}
            )

        # numerical inverse — numerical_transformer.py:179-270
        if st.numerical_features:
            if st.scaling == "quantile":
                data = data.withColumns(
                    {
                        c: N.make_quantile_transform_udf(st.quantile_landmarks[c], inverse=True)(F.col(c))
                        for c in st.numerical_features
                        if c in data.columns
                    }
                )
            exprs = {}
            for c in st.numerical_features:
                if c not in data.columns:
                    continue
                col = F.col(c)
                if st.scaling == "normalize":
                    col = N.denormalize_expr(col, st.numeric_stats[c])
                elif st.scaling == "standardize":
                    col = N.destandardize_expr(col, st.numeric_stats[c])
                if st.num_fill_null == "none" and st.scaling != "kbins":
                    col = N.sentinel_to_null_expr(col, st.scaling, st.numeric_stats[c])
                exprs[c] = col
            if exprs:
                data = data.withColumns(exprs)

        # categorical decode — categorical_transformer.py:72-118
        for c in st.categorical_features:
            dummy_cols = [C.dummy_name(c, v) for v in st.categories[c]]
            present = [d for d in dummy_cols if d in data.columns]
            if not present:
                continue
            values_present = [v for v in st.categories[c] if C.dummy_name(c, v) in data.columns]
            data = data.withColumn(c, C.decode_expr(c, values_present))
            data = data.drop(*present)

        # target decode — preprocessor.py:531-538
        if st.target_column is not None and st.target_column in data.columns:
            tcol = F.col(st.target_column)
            if st.ml_task == "classification":
                data = data.withColumn(
                    st.target_column, C.label_decode_expr(tcol, st.target_labels or [])
                )
            elif st.ml_task == "regression":
                lo, hi = st.target_min_max
                data = data.withColumn(st.target_column, tcol * F.lit(hi - lo) + F.lit(lo))

        # "None" → null — preprocessor.py:540-547
        none_exprs = {
            c: C.none_to_null_expr(F.col(c))
            for c in st.categorical_features
            if c in data.columns
        }
        if none_exprs:
            data = data.withColumns(none_exprs)

        # restore fit-time dtypes — preprocessor.py:550-552. Divergence: we
        # round before casting floats back to integral types (a plain cast
        # would truncate 4.9999 → 4 and break the documented 1e-3 round-trip).
        cast_exprs = {}
        for c in data.columns:
            if c not in dtypes:
                continue
            dt = dtypes[c]
            col = F.col(c)
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)) and not isinstance(
                data.schema[c].dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                cast_exprs[c] = F.round(col).cast(dt)
            else:
                cast_exprs[c] = col.cast(dt)
        if cast_exprs:
            data = data.withColumns(cast_exprs)

        # original schema order for the columns that survive
        ordered = [c for c in st.column_order if c in data.columns]
        extras = [c for c in data.columns if c not in ordered]
        return data.select(*(ordered + extras))

    # ---------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.state.to_json())

    @classmethod
    def load(cls, path: str) -> "Preprocessor":
        obj = cls.__new__(cls)
        with open(path) as f:
            obj.state = FittedState.from_json(f.read())
        obj.time_id = None
        obj._set_parity_attributes()
        return obj

    # ------------------------------------------------------- ts features

    def extract_ts_features(self, data: DataFrame, y=None, time: str | None = None, column_id: str | None = None):
        from .operators.ts_features import extract_ts_features

        if time is None:
            if self.time_id is not None:
                time = self.time_id
            else:
                raise ValueError("Time column name is required for time-series feature extraction.")
        return extract_ts_features(data, y=y, time=time, column_id=column_id)
