"""Shared test setup: grid-file resolution.

Mirrors the reference's own test harness, which stages select grids from
``data/tests/`` under their production names before running gie
(reference data/CMakeLists.txt:77-105 — e.g. ``egm96_15_downsampled.gtx``
is installed as ``egm96_15.gtx`` and ``ntv2_0_downsampled.gsb`` as
``ntv2_0.gsb`` in the ``for_tests`` directory).

Without the reference tree, ``BETA2007.gsb`` (the grid of
``+datum=potsdam``) is served from the in-repo node parquet
``testgrids/beta2007_nodes.parquet``, which holds the same nodes and
header; the real file wins whenever it is present.
"""

import os

_REF_DATA = "/root/reference/data"

if "PROJ_SPARK_GRID_PATH" not in os.environ and os.path.isdir(_REF_DATA):
    os.environ["PROJ_SPARK_GRID_PATH"] = (
        os.path.join(_REF_DATA, "tests") + ":" + _REF_DATA)

from proj_spark.gridfiles import register_grid_file  # noqa: E402

for _name, _file in (("egm96_15.gtx", "egm96_15_downsampled.gtx"),
                     ("ntv2_0.gsb", "ntv2_0_downsampled.gsb")):
    _p = os.path.join(_REF_DATA, "tests", _file)
    if os.path.isfile(_p):
        register_grid_file(_name, _p)

_BETA_GSB = os.path.join(_REF_DATA, "tests", "BETA2007.gsb")
if not os.path.isfile(_BETA_GSB):
    register_grid_file("BETA2007.gsb", os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "testgrids", "beta2007_nodes.parquet"))
