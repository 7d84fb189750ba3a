"""The engine's one crossing into Python: numpy kernels as Arrow UDFs.

:func:`numpy_udf` turns a numpy function over N columns into a Spark
``arrow_udf`` (Arrow batches in, Arrow arrays out, no pandas): the
analogue of the reference's proj_trans_generic strided-array loop
(src/4D_api.cpp:609-760), batched for free by Arrow. The boundary contract
lives here and nowhere else:

- each input column reaches the function as a numpy array, SQL NULL as NaN
  (an ``array<...>`` column as a 2-D array, one row per value);
- the function returns one array, a tuple of arrays in the order of a
  struct's fields, or a 2-D integer array for ``array<long>``;
- NaN in the output, or a masked value of a numpy masked array, becomes
  SQL NULL (reference HUGE_VAL poison semantics, src/fwd.cpp:41-44), so
  bad data never fails a task;
- an empty batch yields an empty result without calling the function.

:func:`apply_transform` compiles one :class:`~proj_spark.ops.Pipeline` (or
single operator) on top of it, the whole multi-step pipeline fused into one
Python roundtrip per batch (SURVEY.md §1.3). Only the columns the caller
names cross, and only ``out_cols`` come back; everything before and after
the UDF stays JVM-side.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import _parse_datatype_string

from .kernels.core import DEG_TO_RAD, RAD_TO_DEG
from .ops import U_DEGREES, U_RADIANS


def _to_numpy(a: pa.Array) -> np.ndarray:
    """Arrow column -> numpy, NULL -> NaN; a list column -> 2-D array with
    NULL rows as NaN rows."""
    if not pa.types.is_list(a.type):
        return a.to_numpy(zero_copy_only=False)
    vals = a.flatten().to_numpy(zero_copy_only=False)
    valid = a.is_valid().to_numpy(zero_copy_only=False)
    n = int(valid.sum())
    out = np.full((len(a), len(vals) // n if n else 0), np.nan)
    out[valid] = vals.reshape(n, -1)
    return out


def _to_arrow(v, atype: pa.DataType) -> pa.Array:
    """Kernel output -> Arrow array of ``atype``, NaN and masked -> NULL."""
    if pa.types.is_struct(atype):
        return pa.StructArray.from_arrays(
            [_to_arrow(c, f.type) for c, f in zip(v, atype)],
            fields=list(atype))
    if pa.types.is_list(atype):
        v = np.asarray(v)
        n, k = v.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * k + 1, k, dtype=np.int32)),
            _to_arrow(v.ravel(), atype.value_type), type=atype)
    return pa.array(np.asanyarray(v), type=atype, from_pandas=True)


def _run_batch(fn, atype: pa.DataType, arrays) -> pa.Array:
    """One Arrow batch through ``fn`` under the boundary contract."""
    if len(arrays[0]) == 0:
        return pa.array([], type=atype)
    return _to_arrow(fn(*map(_to_numpy, arrays)), atype)


def numpy_udf(return_type: str):
    """Decorator: numpy ``fn(*arrays)`` -> callable ``(*cols) -> Column``
    evaluated by a Spark ``arrow_udf`` named like ``fn`` (the name shows in
    the plan's ``ArrowEvalPython`` node). ``return_type`` is a DDL string:
    a scalar type, ``struct<...>`` or ``array<long>``."""
    def wrap(fn):
        @functools.wraps(fn)
        def column(*cols):
            rtype = _parse_datatype_string(return_type)
            atype = to_arrow_type(rtype)

            @functools.wraps(fn)
            def run(*arrays):
                return _run_batch(fn, atype, arrays)

            return F.arrow_udf(run, rtype)(*cols)
        return column
    return wrap


def _angular(units: str) -> bool:
    return units in (U_RADIANS, U_DEGREES)


def apply_transform(df: DataFrame, op, x_col, y_col, z_col=None, t_col=None,
                    direction: str = "forward", out_prefix: str = "",
                    out_cols=("x", "y"), degrees_in: bool = True,
                    degrees_out: bool = True) -> DataFrame:
    """Attach transformed coordinate columns to ``df``.

    ``op`` may be an Operator, Pipeline, or a proj-string / EPSG code pair via
    :func:`proj_spark.create`. Output columns named ``out_prefix + out_cols``
    take the op's x, y, z, t outputs in that order. Without ``z_col`` the
    op sees z = 0, without ``t_col`` t = NaN. ``degrees_in``/``degrees_out``
    treat angular-unit endpoints as degrees at the DataFrame boundary (GIS
    convention); kernels run in radians.
    """
    if isinstance(op, str):
        from .crs import create
        op = create(op)
    to_rad = degrees_in and _angular(op.input_units(direction))
    to_deg = degrees_out and _angular(op.output_units(direction))
    has_z, has_t = z_col is not None, t_col is not None
    n_out = len(out_cols)
    fields = ", ".join(f"{c}:double" for c in "xyzt"[:n_out])

    @numpy_udf(f"struct<{fields}>")
    def _udf(x, y, *zt):
        z = zt[0] if has_z else np.zeros_like(x)
        t = zt[-1] if has_t else np.full_like(x, np.nan)
        if to_rad:
            x = x * DEG_TO_RAD
            y = y * DEG_TO_RAD
        out = op.apply(direction, x, y, z, t)
        if to_deg:
            out = (out[0] * RAD_TO_DEG, out[1] * RAD_TO_DEG) + tuple(out[2:])
        return out[:n_out]

    cols = [c for c in (x_col, y_col, z_col, t_col) if c is not None]
    df = df.withColumn("_pj", _udf(*(F.col(c).cast("double") for c in cols)))
    for name, out in zip("xyzt", out_cols):
        df = df.withColumn(out_prefix + out, F.col(f"_pj.{name}"))
    return df.drop("_pj")


def transform(df: DataFrame, src_crs: str, dst_crs: str,
              lon_col: str = "lon", lat_col: str = "lat",
              x_out: str = "x", y_out: str = "y") -> DataFrame:
    """cs2cs-equivalent: df with (lon,lat) degrees in src_crs geodetic ->
    (x,y) in dst_crs (the engine's `echo ... | cs2cs` analogue,
    reference src/apps/cs2cs.cpp:101-200)."""
    from .crs import create_crs_to_crs
    pipe = create_crs_to_crs(src_crs, dst_crs)
    return apply_transform(df, pipe, lon_col, lat_col,
                           out_cols=(x_out, y_out))
