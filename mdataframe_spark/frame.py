"""MFrame — the engine's chainable frame wrapper.

Plays the role of the reference's ``MDF`` (reference: mdataframe.py:160-317):
a 2-D labeled matrix with an explicit row-identity column plus metadata
sidecars, exposing a chainable pipeline API
(``frame.impute().scale().filter(...).sort(...).write(...)``).

Spark mapping (SURVEY.md §1.3):

- the pandas row index becomes an explicit ``row_id`` column (default
  ``__row_id``); there is no physical row order — order is applied only
  at sinks.
- ``df_meta_rows`` (per-row annotations) live as extra columns in the
  same Spark DataFrame, tracked by name in ``meta_row_columns`` — a
  projection, not a join, so keeping them is free and Catalyst prunes
  them when unused.
- ``df_meta_columns`` (per-sample annotations) is a tiny driver-side
  mapping (``column_meta``: dict col -> dict), broadcastable — sample
  counts are bounded even when rows are 100 TB.
- wide <-> long layout conversion via ``melt()`` / ``pivot_wide()``:
  column-axis operations become ``groupBy("sample")`` on the long
  layout, which shuffles-scales where pandas transposes.

Everything chainable is lazy: each method only appends to the Catalyst
logical plan.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .filter import Filter
from .transformer import Transformer

ROW_ID = "__row_id"

# pandas-method passthrough whitelist (reference: mdataframe.py:523-574
# dispatches arbitrary pandas method names; we accept the verbs that have
# scale-safe Spark equivalents and fail fast on anything else, X4)
_VERB_WHITELIST = {
    "drop",
    "rename",
    "abs",
    "fillna",
    "replace",
    "round",
    "cast",
}


class MFrame:
    """A Spark DataFrame + row identity + column metadata, chainable."""

    def __init__(
        self,
        df: DataFrame,
        name: str = "mframe",
        index_column: str = ROW_ID,
        data_columns: Optional[Sequence[str]] = None,
        rows: Optional[Sequence[Any]] = None,
        column_meta: Optional[Dict[str, Dict[str, Any]]] = None,
    ):
        """Wrap ``df``.

        data_columns / rows mirror the reference's load-time projection
        (``MDF(columns=..., rows=...)``, mdataframe.py:271-295): columns
        not selected as data stay in the frame as row-metadata; a ``rows``
        list becomes a pushed-down filter on the index column.
        """
        if index_column not in df.columns:
            raise ValueError(f"index column {index_column!r} not in DataFrame")
        self.name = name
        self.index_column = index_column
        if rows is not None:
            df = df.filter(F.col(index_column).isin(list(rows)))
        all_cols = [c for c in df.columns if c != index_column]
        if data_columns is None:
            self.data_columns = all_cols
            self.meta_row_columns: List[str] = []
        else:
            data_columns = list(data_columns)
            missing = set(data_columns) - set(all_cols)
            if missing:
                raise ValueError(f"data columns not present: {sorted(missing)}")
            self.data_columns = data_columns
            self.meta_row_columns = [c for c in all_cols if c not in data_columns]
        self.df = df
        self.column_meta = dict(column_meta or {})

    # ------------------------------------------------------------------
    def _derive(self, df: DataFrame, step: str, data_columns=None, meta=None) -> "MFrame":
        out = MFrame.__new__(MFrame)
        out.name = f"{self.name}_{step}"
        out.index_column = self.index_column
        out.df = df
        out.data_columns = list(data_columns if data_columns is not None else self.data_columns)
        out.meta_row_columns = [
            c for c in df.columns if c != self.index_column and c not in out.data_columns
        ]
        out.column_meta = dict(meta if meta is not None else self.column_meta)
        return out

    # -- projections / filters -----------------------------------------
    def select_data(self, columns: Sequence[str]) -> "MFrame":
        """Narrow the data matrix; dropped data columns become row-meta."""
        return self._derive(self.df, "select", data_columns=list(columns))

    def filter(self, spec: Union[Filter, List, Any]) -> "MFrame":
        """Filter rows with a Filter DSL object, term list, or Column."""
        if isinstance(spec, Filter):
            pred = spec.expr()
        elif isinstance(spec, list):
            pred = Filter(spec).expr()
        else:
            pred = spec
        return self._derive(self.df.filter(pred), "filter")

    def transform(
        self,
        step: Union[str, Transformer, Callable[[DataFrame], DataFrame]],
        *args,
        **kwargs,
    ) -> "MFrame":
        """Apply a transform step (verb name, Transformer, or callable).

        Mirrors the reference's transform dispatch (mdataframe.py:489-587):
        strings are whitelisted verbs, Transformers are called, plain
        callables receive the Spark DataFrame.
        """
        if isinstance(step, str):
            return self._apply_verb(step, *args, **kwargs)
        if isinstance(step, Transformer):
            return self._derive(step(self.df), step.name)
        if callable(step):
            return self._derive(step(self.df, *args, **kwargs), getattr(step, "__name__", "fn"))
        raise ValueError(f"Cannot interpret transform step {step!r}")

    def _apply_verb(self, verb: str, *args, **kwargs) -> "MFrame":
        if verb not in _VERB_WHITELIST:
            raise ValueError(
                f"Verb {verb!r} is not in the scale-safe whitelist {sorted(_VERB_WHITELIST)}"
            )
        df = self.df
        data_columns = self.data_columns
        if verb == "drop":
            cols = list(args[0]) if args and isinstance(args[0], (list, tuple)) else list(args)
            df = df.drop(*cols)
            data_columns = [c for c in data_columns if c not in cols]
        elif verb == "rename":
            mapping: Dict[str, str] = args[0] if args else kwargs
            df = df.withColumnsRenamed(mapping)
            data_columns = [mapping.get(c, c) for c in data_columns]
        elif verb == "abs":
            df = df.withColumns({c: F.abs(F.col(c)) for c in data_columns})
        elif verb == "round":
            nd = args[0] if args else 0
            df = df.withColumns({c: F.round(F.col(c), nd) for c in data_columns})
        elif verb == "fillna":
            df = df.fillna(args[0], subset=data_columns)
        elif verb == "replace":
            df = df.replace(args[0], args[1], subset=data_columns)
        elif verb == "cast":
            dtype = args[0]
            df = df.withColumns({c: F.col(c).cast(dtype) for c in data_columns})
        return self._derive(df, verb, data_columns=data_columns)

    def __getattr__(self, item: str):
        # chain ergonomics: mf.drop("c") == mf.transform("drop", "c")
        # (reference: mdataframe.py:232-236 dynamic dispatch, X4)
        if item in _VERB_WHITELIST:
            return lambda *a, **k: self._apply_verb(item, *a, **k)
        raise AttributeError(item)

    # -- reference chain verbs (mdataframe.py:753-763, 775-830, 841-923) --
    def impute(self, strategy="fixed", **kwargs) -> "MFrame":
        """`.impute()` chain step (reference default: NaN → 0)."""
        from .operators.impute import ImputeFixed, ImputeMeanMedian

        if strategy == "fixed":
            t = ImputeFixed(columns=kwargs.pop("columns", self.data_columns), **kwargs)
        else:
            t = ImputeMeanMedian(strategy, columns=kwargs.pop("columns", self.data_columns))
        return self._derive(t(self.df), f"imputed_{t.hash[:8]}")

    def scale(self, axis: int = 0, **kwargs) -> "MFrame":
        """`.scale()` chain step: axis=0 column-standardize (reference
        default via sklearn StandardScaler), axis=1 row z-score."""
        from .operators.scale import ColumnScaler, ZScaler

        cls = ColumnScaler if axis == 0 else ZScaler
        t = cls(columns=self.data_columns, index_column=self.index_column, **kwargs)
        return self._derive(t(self.df), f"scaled_axis{axis}")

    def cluster(self, strategy=None, sort: bool = True, ascending: bool = True,
                **kwargs) -> "MFrame":
        """`.cluster()` chain step: fit labels into the frame (labels
        land as a row-meta column, like the reference writes them into
        df_meta_rows, mdataframe.py:801-807)."""
        from .operators.clustering import Cluster, KMeans

        if strategy is None:
            strategy = KMeans(index_column=self.index_column, **kwargs)
        if not isinstance(strategy, Cluster):
            raise ValueError("strategy must be a Cluster transformer")
        out = strategy(self.df.select(self.index_column, *self.data_columns),
                       sort=sort, ascending=ascending)
        meta = self.df.select(self.index_column, *self.meta_row_columns)
        joined = out.join(meta, self.index_column) if self.meta_row_columns else out
        return self._derive(joined, f"Cl({strategy.name})")

    def reduce(self, reducer=None, **kwargs) -> "MFrame":
        """`.reduce()` chain step: replace the data matrix with the
        reduced components (reference: mdataframe.py:862-913 resets the
        invalidated sidecar; here meta columns are carried by join)."""
        from .operators.projection import PCA

        if reducer is None:
            reducer = PCA(index_column=self.index_column, **kwargs)
        out = reducer(self.df.select(self.index_column, *self.data_columns))
        meta = self.df.select(self.index_column, *self.meta_row_columns)
        joined = out.join(meta, self.index_column) if self.meta_row_columns else out
        new_data = [c for c in out.columns if c != self.index_column]
        return self._derive(joined, f"Red({reducer.name})", data_columns=new_data)

    # -- sorting ---------------------------------------------------------
    def sort(
        self,
        by: Union[str, Sequence[str]],
        ascending: Union[bool, Sequence[bool]] = True,
    ) -> "MFrame":
        """Multi-key row sort (reference sort DSL, mdataframe.py:319-468).

        Keys may be data columns OR row-meta columns (the reference pulls
        sort keys from df_meta_rows when absent in data, O2 — free here
        because meta lives in the same frame). The sort itself is lazy;
        Spark materializes a total order only at an ordered sink.
        """
        keys = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(keys) if isinstance(ascending, bool) else list(ascending)
        cols = [F.col(k).asc() if a else F.col(k).desc() for k, a in zip(keys, asc)]
        return self._derive(self.df.orderBy(*cols), "sort")

    # -- descriptive passthrough (A7; reference MDF2 pandas surface,
    # mframe.py:18-30 / tests/test_mframe.py:19-26) ------------------------
    def describe(self, *stats: str) -> DataFrame:
        """Summary statistics of the data columns — Spark's distributed
        `summary()`. With no arguments: the full default set
        (count/mean/std/min/quartiles/max; the quartiles are
        approximate). Pass explicit stat names (e.g. "count", "mean",
        "stddev", "min", "max") to restrict to the exact subset — the
        form the a7_describe oracle hash-checks cross-engine."""
        return self.df.select(*self.data_columns).summary(*stats)

    def mean(self) -> Dict[str, float]:
        row = self.df.agg(
            *[F.avg(c).alias(c) for c in self.data_columns]
        ).collect()[0]
        return {c: row[c] for c in self.data_columns}

    def sum(self) -> Dict[str, float]:
        row = self.df.agg(
            *[F.sum(c).alias(c) for c in self.data_columns]
        ).collect()[0]
        return {c: row[c] for c in self.data_columns}

    def count(self) -> int:
        return self.df.count()

    def limit(self, n: int) -> "MFrame":
        return self._derive(self.df.limit(n), f"limit{n}")

    # -- UDF surface (X1/X2) ----------------------------------------------
    def apply(self, fn: Callable, axis: int = 0, result_name: Optional[str] = None) -> "MFrame":
        """Arbitrary-callable transform step (reference X1:
        mdataframe.py:493-501, 603-621 — ``df.apply(f, axis)``).

        axis=0: ``fn(pandas.Series) -> pandas.Series`` applied to each
        data column as an Arrow-batched pandas UDF — executor-parallel,
        the scalable path.
        axis=1: ``fn(pandas.Series) -> scalar`` applied per row via
        mapInPandas; the scalar lands in ``result_name`` (default: the
        function's name).
        """
        from pyspark.sql import types as T

        if axis == 0:
            from ._udf import double_series_udf

            col_udf = double_series_udf(fn)
            out = self.df.withColumns({c: col_udf(F.col(c)) for c in self.data_columns})
            return self._derive(out, "apply_ax0")
        if axis == 1:
            import pandas as pd

            name = result_name or getattr(fn, "__name__", "applied")
            cols = list(self.data_columns)
            idx = self.index_column
            schema = T.StructType(
                [self.df.schema[idx], T.StructField(name, T.DoubleType())]
            )

            def run(batches):
                for pdf in batches:
                    yield pd.DataFrame(
                        {idx: pdf[idx], name: pdf[cols].apply(fn, axis=1).astype(float)}
                    )

            applied = self.df.select(idx, *cols).mapInPandas(run, schema)
            return self._derive(self.df.join(applied, idx), "apply_ax1")
        raise ValueError(f"axis must be 0 or 1, got {axis}")

    def apply_frame(self, fn: Callable) -> "MFrame":
        """Whole-frame pandas callable (reference X2: mdataframe.py:625-645).

        NON-SCALABLE escape hatch: the entire frame is collected to the
        DRIVER (``toPandas``) and handed to ``fn`` as one pandas
        DataFrame. Kept for parity with the reference's whole-frame
        transforms; anything hot-path belongs in a real operator.

        Contract realignment: the result must keep the index column;
        surviving data/meta columns keep their tracking, and columns
        ``fn`` introduced are classified as data columns.
        """
        import pandas as pd

        pdf = self.df.toPandas()
        result = fn(pdf)
        if not isinstance(result, pd.DataFrame):
            raise ValueError("apply_frame callable must return a pandas DataFrame")
        if self.index_column not in result.columns:
            raise ValueError(
                f"apply_frame callable dropped the index column "
                f"{self.index_column!r}; it must be preserved"
            )
        out = self.df.sparkSession.createDataFrame(result)
        known_meta = set(self.meta_row_columns)
        new_data = [
            c
            for c in result.columns
            if c != self.index_column and c not in known_meta
        ]
        return self._derive(out, "apply_frame", data_columns=new_data)

    # -- column-axis sort (O3) --------------------------------------------
    def sort_columns(self, by_row: Any, ascending: bool = True) -> "MFrame":
        """Order the data COLUMNS by the values of one row (reference
        O3: mdataframe.py:449-468). The deciding row is a single
        driver-side fetch; the reorder is a projection."""
        row = (
            self.df.filter(F.col(self.index_column) == by_row)
            .select(*self.data_columns)
            .collect()
        )
        if not row:
            raise ValueError(f"row {by_row!r} not found")
        vals = row[0].asDict()
        new_order = sorted(self.data_columns, key=lambda c: vals[c], reverse=not ascending)
        out = self.df.select(
            self.index_column, *new_order, *self.meta_row_columns
        )
        return self._derive(out, "sort_columns", data_columns=new_order)

    # -- layout conversion ------------------------------------------------
    def melt(self, value_name: str = "value", var_name: str = "sample") -> DataFrame:
        """Wide -> long: (row_id, sample, value). The 100 TB layout."""
        return self.df.melt(
            ids=[self.index_column] + self.meta_row_columns,
            values=self.data_columns,
            variableColumnName=var_name,
            valueColumnName=value_name,
        )

    @classmethod
    def from_long(
        cls,
        long_df: DataFrame,
        name: str = "mframe",
        index_column: str = ROW_ID,
        var_name: str = "sample",
        value_name: str = "value",
        samples: Optional[Sequence[str]] = None,
    ) -> "MFrame":
        """Long -> wide. Pass ``samples`` to avoid the extra
        distinct-values job — with the list known the pivot compiles to
        conditional aggregation (one single-level partial-agged
        exchange; Spark's generic pivot plans two aggregate levels,
        measured ~3x slower on the engine's count matrices).

        Cell semantics (identical on both paths): each (index, sample)
        cell is the FIRST NON-NULL value among its long rows; a group
        whose values are all null yields null."""
        gb = long_df.groupBy(index_column)
        if samples is not None:
            pivoted = gb.agg(
                *[
                    F.first(
                        F.when(F.col(var_name) == s, F.col(value_name)),
                        ignorenulls=True,
                    ).alias(s)
                    for s in samples
                ]
            )
        else:
            pivoted = gb.pivot(var_name).agg(F.first(value_name, ignorenulls=True))
        return cls(pivoted, name=name, index_column=index_column)

    # -- sinks -------------------------------------------------------------
    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        self.df.write.mode(mode).parquet(path)

    def write_tsv(
        self,
        path: str,
        mode: str = "overwrite",
        single_file: bool = False,
        full: bool = False,
    ) -> None:
        """TSV sink (reference: MDF.write, mdataframe.py:925-949).

        ``single_file=True`` coalesces to 1 partition for small outputs
        (parity with the reference's one-file TSV); leave False at scale.
        ``full=True`` emits the three-way meta join (J4, reference
        mdataframe.py:937-944): data rows carry their row-meta columns
        (already in-frame) and the per-sample column metadata is
        appended as attribute rows below the data.
        """
        out = self.full_output(include_attributes=True) if full else self.df
        if single_file:
            # the reference's to_csv writes rows in index order; sort
            # the data block so the one-file TSV is deterministic (the
            # attribute rows, if any, stay below the data: union
            # partition order survives coalesce(1))
            out = (
                out.orderBy(F.col("__is_attr"), F.col(self.index_column)).drop(
                    "__is_attr"
                )
                if full
                else out.orderBy(self.index_column)
            )
            out = out.coalesce(1)
        elif full:
            out = out.drop("__is_attr")
        out.write.mode(mode).option("sep", "\t").option("header", True).csv(path)

    def full_output(self, include_attributes: bool = False) -> DataFrame:
        """The reference's ``write(full=True)`` frame (J4,
        mdataframe.py:937-944: ``df.T.join(meta_columns).T.join(
        meta_rows)``): data rows x (index + data + row-meta columns),
        followed by one row per column-meta attribute whose index cell
        is the attribute name and whose data cells are each sample's
        attribute value (row-meta cells null).

        By default the TYPED frame is returned (data + row-meta columns
        with their original dtypes — callers composing further
        transforms keep numeric types). ``include_attributes=True``
        appends the attribute rows, which forces every column to
        string (the union mixes numeric data with attribute text — the
        representation a TSV sink wants, and what ``write_tsv(
        full=True)`` uses). Attribute rows appear in first-seen
        insertion order across the column-meta dicts, matching the
        reference's ``meta_columns`` column order. The appended frame
        carries a ``__is_attr`` marker column so sinks can keep the
        data-before-attributes order under a global sort.

        Row-meta columns are already in-frame (a projection); the
        column-meta mapping is driver-bounded (#samples x #attributes),
        so the attribute rows are a tiny union — no join, no shuffle.
        """
        if not include_attributes:
            return self.df
        cols = self.df.columns
        strd = self.df.select(
            [F.col(c).cast("string").alias(c) for c in cols]
        ).withColumn("__is_attr", F.lit(0))
        attrs = []
        for m in self.column_meta.values():
            for a in m:
                if a not in attrs:
                    attrs.append(a)
        if not attrs:
            return strd
        rows = []
        for ai, a in enumerate(attrs):
            cells = {self.index_column: a}
            for c in self.data_columns:
                v = self.column_meta.get(c, {}).get(a)
                cells[c] = None if v is None else str(v)
            # ordinal marker: data rows are 0, attribute rows keep their
            # first-seen rank so the sink's sort preserves meta order
            rows.append(tuple(cells.get(c) for c in cols) + (ai + 1,))
        from pyspark.sql import types as _T

        schema = _T.StructType(
            [_T.StructField(c, _T.StringType()) for c in cols]
            + [_T.StructField("__is_attr", _T.IntegerType())]
        )
        attr_df = self.df.sparkSession.createDataFrame(rows, schema)
        return strd.unionByName(attr_df)

    def to_pandas(self):
        """Driver-side materialization (bounded outputs only)."""
        return self.df.toPandas()

    def write_excel(self, path: str) -> None:
        """Excel sink (reference: write_excel, mdataframe.py:951-973).

        Bounded-output only: collects to the driver. Sheet 2 carries the
        column metadata, mirroring the reference's 3-sheet layout.
        """
        import pandas as pd

        pdf = self.to_pandas()
        with pd.ExcelWriter(path) as writer:
            pdf.to_excel(writer, sheet_name="data", index=False)
            if self.column_meta:
                pd.DataFrame(self.column_meta).T.to_excel(writer, sheet_name="meta_columns")
