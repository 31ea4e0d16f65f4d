"""Type handlers: convert asset outputs to/from Spark DataFrames.

Reference: ``DeltalakeBaseArrowTypeHandler`` (dd/dagster_delta/
handler.py:123-137) with pyarrow (320-347) and polars
(ddp/deltalake_polars_type_handler.py:24-109) implementations.  The
Spark-native currency is the lazy ``DataFrame`` (never collected in
the core path — the 100 TB contract), with pandas/arrow handlers for
small driver-side outputs.
"""

from __future__ import annotations

import os
from typing import Any, Optional, Sequence, Type

from pyspark.sql import DataFrame, SparkSession


class UnsupportedTypeError(TypeError):
    """Reference contract (dd tests test_type_handler.py:161-170):
    'does not have a handler for type ...'."""


class DriverMaterializationError(RuntimeError):
    """Raised when a collecting handler (pandas/arrow/polars) would pull
    more than the configured row cap onto the driver."""


#: default cap on rows a collecting handler materializes driver-side.
#: ~10M rows of mixed scalars is low-GB driver memory; a 100 TB asset
#: routed to the pandas handler fails fast instead of OOMing the driver.
DEFAULT_MATERIALIZE_CAP_ROWS = 10_000_000


def _materialize_cap_rows(override: Optional[int] = None) -> int:
    if override is not None:
        return override
    raw = os.environ.get("DDS_MATERIALIZE_CAP_ROWS", "").strip()
    if not raw:  # unset or empty (cleared in a shell/CI template)
        return DEFAULT_MATERIALIZE_CAP_ROWS
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"DDS_MATERIALIZE_CAP_ROWS={raw!r} is not an integer; set a "
            "row count, or <= 0 to disable the driver-materialization cap"
        ) from None


def bounded_frame(
    df: DataFrame, cap_rows: Optional[int] = None
) -> tuple[DataFrame, int]:
    """Single-scan materialization guard: returns ``(df.limit(cap+1),
    cap)``.  The handler materializes the limited frame ONCE (bounded
    driver memory by construction — at most cap+1 rows arrive) and
    passes the resulting row count to :func:`check_materialized_rows`;
    an under-cap result IS the complete result, so no second scan ever
    runs (a count-then-collect probe would decode the whole table
    twice).  ``cap <= 0`` disables the guard (``(df, 0)``)."""
    cap = _materialize_cap_rows(cap_rows)
    if cap <= 0:
        return df, 0
    return df.limit(cap + 1), cap


def check_materialized_rows(n_rows: int, cap: int, handler: str) -> None:
    """Raise if a bounded materialization came back truncated (the
    true result exceeds the cap)."""
    if cap > 0 and n_rows > cap:
        raise DriverMaterializationError(
            f"Refusing to materialize more than {cap:,} rows onto the "
            f"driver via the {handler} type handler (result exceeds the "
            f"cap). Use the DataFrame handler for large outputs, or "
            f"raise DDS_MATERIALIZE_CAP_ROWS / the handler's "
            f"materialize_cap_rows if the driver has headroom."
        )


class SparkTypeHandler:
    """Abstract handler (reference U1, handler.py:123-137)."""

    #: python types this handler accepts/produces
    supported_types: tuple[Type, ...] = ()

    def to_spark(self, spark: SparkSession, obj: Any) -> DataFrame:
        raise NotImplementedError

    def from_spark(self, df: DataFrame, target_type: Type) -> Any:
        raise NotImplementedError

    def get_output_stats(self, obj: Any) -> dict[str, Any]:
        return {}


class DataFrameTypeHandler(SparkTypeHandler):
    """Native handler: DataFrames pass through lazily (U2 analogue)."""

    supported_types = (DataFrame,)

    def to_spark(self, spark: SparkSession, obj: DataFrame) -> DataFrame:
        return obj

    def from_spark(self, df: DataFrame, target_type: Type) -> DataFrame:
        return df


class PandasTypeHandler(SparkTypeHandler):
    """pandas handler for small driver-side outputs (U3 analogue:
    reference's polars handler collects LazyFrames on write,
    ddp:42-43 — same caveat applies: only for data that fits the
    driver).  ``materialize_cap_rows`` bounds the collect (default
    ``DDS_MATERIALIZE_CAP_ROWS`` / 10M rows); oversized frames raise
    ``DriverMaterializationError`` pointing at the DataFrame handler."""

    def __init__(self, materialize_cap_rows: Optional[int] = None) -> None:
        import pandas as pd

        self.supported_types = (pd.DataFrame,)
        self.materialize_cap_rows = materialize_cap_rows

    def to_spark(self, spark: SparkSession, obj: Any) -> DataFrame:
        return spark.createDataFrame(obj)

    def from_spark(self, df: DataFrame, target_type: Type) -> Any:
        bounded, cap = bounded_frame(df, self.materialize_cap_rows)
        pdf = bounded.toPandas()
        check_materialized_rows(len(pdf), cap, "pandas")
        return pdf

    def get_output_stats(self, obj: Any) -> dict[str, Any]:
        # reference ddp:90-104 reports num_rows_in_source
        return {"num_rows_in_source": int(obj.shape[0])}


class ArrowTypeHandler(SparkTypeHandler):
    """pyarrow Table handler (U2 analogue, handler.py:320-347)."""

    def __init__(self, materialize_cap_rows: Optional[int] = None) -> None:
        import pyarrow as pa

        self.supported_types = (pa.Table, pa.RecordBatchReader)
        self.materialize_cap_rows = materialize_cap_rows

    def to_spark(self, spark: SparkSession, obj: Any) -> DataFrame:
        import pyarrow as pa

        if isinstance(obj, pa.RecordBatchReader):
            obj = obj.read_all()
        # Spark 4 ingests pyarrow Tables directly (Arrow IPC, no pandas
        # detour)
        return spark.createDataFrame(obj)

    def from_spark(self, df: DataFrame, target_type: Type) -> Any:
        import pyarrow as pa

        bounded, cap = bounded_frame(df, self.materialize_cap_rows)
        # df.toArrow() collects over Arrow IPC — no pandas round-trip
        # and exact arrow types
        table = bounded.toArrow()
        check_materialized_rows(table.num_rows, cap, "arrow")
        if target_type is pa.RecordBatchReader:
            return pa.RecordBatchReader.from_batches(
                table.schema, table.to_batches()
            )
        return table

    def get_output_stats(self, obj: Any) -> dict[str, Any]:
        try:
            return {"num_rows_in_source": int(obj.num_rows)}
        except (AttributeError, TypeError):
            return {}


class PolarsTypeHandler(SparkTypeHandler):
    """polars handler (reference U3: ddp/deltalake_polars_type_handler
    .py:24-109).  LazyFrames are collected on write (ddp:42-43);
    default load type is the eager DataFrame (ddp:163-166).  Only
    registered when polars is importable."""

    def __init__(self, materialize_cap_rows: Optional[int] = None) -> None:
        import polars as pl

        self.supported_types = (pl.DataFrame, pl.LazyFrame)
        self.materialize_cap_rows = materialize_cap_rows

    def to_spark(self, spark: SparkSession, obj: Any) -> DataFrame:
        import polars as pl

        if isinstance(obj, pl.LazyFrame):
            obj = obj.collect()
        # Arrow both ways: the pandas detour loses type fidelity
        # (Int64-with-nulls -> float64 NaN, precision loss on large
        # ints) and copies every row twice
        return spark.createDataFrame(obj.to_arrow())

    def from_spark(self, df: DataFrame, target_type: Type) -> Any:
        import polars as pl

        bounded, cap = bounded_frame(df, self.materialize_cap_rows)
        tbl = bounded.toArrow()
        check_materialized_rows(tbl.num_rows, cap, "polars")
        out = pl.from_arrow(tbl)
        if target_type is pl.LazyFrame:
            return out.lazy()
        return out

    def get_output_stats(self, obj: Any) -> dict[str, Any]:
        try:
            return {"num_rows_in_source": int(obj.shape[0])}
        except (AttributeError, TypeError):
            return {}


class HandlerRegistry:
    """Dispatch on the asset object's python type (reference:
    io_manager type_handlers list, io_manager.py:201-210)."""

    def __init__(self, handlers: Optional[Sequence[SparkTypeHandler]] = None):
        self.handlers: list[SparkTypeHandler] = list(handlers or [])
        if not self.handlers:
            self.handlers.append(DataFrameTypeHandler())
            try:
                self.handlers.append(PandasTypeHandler())
            except ImportError:  # pragma: no cover
                pass
            try:
                self.handlers.append(ArrowTypeHandler())
            except ImportError:  # pragma: no cover
                pass
            try:
                self.handlers.append(PolarsTypeHandler())
            except ImportError:
                pass  # polars optional (not present in this container)

    def for_object(self, obj: Any) -> SparkTypeHandler:
        for h in self.handlers:
            if isinstance(obj, h.supported_types):
                return h
        raise UnsupportedTypeError(
            f"DeltaSparkIOManager does not have a handler for type "
            f"'{type(obj)}'. Has handlers for types "
            f"{[t for h in self.handlers for t in h.supported_types]}"
        )

    def for_type(self, target_type: Type) -> SparkTypeHandler:
        for h in self.handlers:
            try:
                if target_type in h.supported_types or any(
                    issubclass(target_type, t) for t in h.supported_types
                ):
                    return h
            except TypeError:
                # typing generics (list[dict], Optional[...]) are not
                # classes — fall through to the contract error instead
                # of an opaque issubclass TypeError
                continue
        raise UnsupportedTypeError(
            f"DeltaSparkIOManager does not have a handler for type "
            f"'{target_type}'"
        )
