"""Resumable per-partition checkpointing with lineage + metrics.

Jobs over the pages table must be "resumable from per-partition checkpoints
with lineage + metrics recorded per Iceberg snapshot". Without an Iceberg
catalog the contract is kept over a parquet tree plus a JSON manifest whose
per-bucket entry is what a snapshot summary would carry (on a real catalog,
swap the rename in ``run`` for ``df.writeTo(...).append()``).

Rows hash to ``n_buckets`` buckets (``pmod(xxhash64(key), n)``). One ``run``
takes all pending buckets through one scan (an Observation counts input rows
per bucket), one ``transform``, one bucket-partitioned write to
``_pending.tmp`` and one read-back for per-bucket output rows and
xor-of-row-hashes, then commits them one at a time: rename
``_pending.tmp/_bucket=b`` -> ``bucket=b``, save its manifest entry (rows
in/out, output hash, wall_s = wall time of the pass that committed it,
input_path, code_version). A rerun skips committed buckets and clobbers
leftover uncommitted files, so kill-and-rerun equals a single run.

``transform`` must be a per-row map (0..n output rows per input row) of
the DataFrame it is given that keeps ``key_col``; ``run`` raises ValueError
before writing if its output lacks ``key_col`` or has a ``_bucket`` column.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.pandas.types import to_arrow_schema


class CheckpointedJob:
    def __init__(self, name: str, out_dir: str, n_buckets: int,
                 key_col: str, job_desc: str = ""):
        self.name = name
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.key_col = key_col
        self.code_version = hashlib.md5(job_desc.encode()).hexdigest()[:12]
        os.makedirs(out_dir, exist_ok=True)
        self.manifest_path = os.path.join(out_dir, "_manifest.json")

    # -- manifest ---------------------------------------------------------

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"name": self.name, "n_buckets": self.n_buckets,
                "code_version": self.code_version, "buckets": {}}

    def _save_manifest(self, m: dict):
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)

    def completed_buckets(self) -> set[int]:
        return {int(b) for b in self._load_manifest()["buckets"]}

    # -- run --------------------------------------------------------------

    def run(self, input_df: DataFrame, transform, input_path: str = "",
            max_buckets: int | None = None) -> int:
        """Process the not-yet-committed buckets (the first ``max_buckets``
        of them, if given) in one pass. Returns #buckets committed."""
        pending = sorted(set(range(self.n_buckets))
                         - self.completed_buckets())[:max_buckets]
        if not pending:
            return 0
        t0 = time.monotonic()
        bucket_col = F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets))
        keyed = (input_df.withColumn("_bucket", bucket_col)
                 .filter(F.col("_bucket").isin(pending)))
        in_rows = Observation()
        out = transform(keyed.observe(in_rows, *[
            F.count_if(F.col("_bucket") == b).alias(str(b)) for b in pending])
            .drop("_bucket"))
        if self.key_col not in out.columns or "_bucket" in out.columns:
            raise ValueError(f"transform output must keep {self.key_col!r} and "
                             f"have no '_bucket' column; got {out.columns}")
        tmp_dir = os.path.join(self.out_dir, "_pending.tmp")
        shutil.rmtree(tmp_dir, ignore_errors=True)  # leftover from a killed run
        staged = out.withColumn("_bucket", bucket_col)
        staged.write.partitionBy("_bucket").parquet(tmp_dir)
        # hash the files as a resumed consumer reads them; the explicit
        # schema skips a schema-inference job
        written = out.sparkSession.read.schema(staged.schema).parquet(tmp_dir)
        stats = {r[0]: (r[1], r[2]) for r in written.groupBy("_bucket").agg(
            F.count("*"), F.bit_xor(F.xxhash64(*out.columns))).collect()}
        counts = in_rows.get
        wall_s = round(time.monotonic() - t0, 3)
        m = self._load_manifest()
        for b in pending:
            part_dir = os.path.join(tmp_dir, f"_bucket={b}")
            if b not in stats:  # no output rows: commit an empty file
                os.makedirs(part_dir)
                pq.write_table(to_arrow_schema(out.schema).empty_table(),
                               os.path.join(part_dir, "part-00000-empty.parquet"))
            final_dir = os.path.join(self.out_dir, f"bucket={b}")
            shutil.rmtree(final_dir, ignore_errors=True)
            os.replace(part_dir, final_dir)  # atomic commit (Iceberg snapshot analogue)
            rows, xh = stats.get(b, (0, 0))
            m["buckets"][str(b)] = {
                "bucket": b, "input_rows": int(counts[str(b)]),
                "output_rows": int(rows), "output_xor_hash": int(xh),
                "wall_s": wall_s, "input_path": input_path,
                "code_version": self.code_version}
            self._save_manifest(m)
        shutil.rmtree(tmp_dir)
        return len(pending)

    # -- read -------------------------------------------------------------

    def read_output(self, spark) -> DataFrame:
        done = sorted(self.completed_buckets())
        paths = [os.path.join(self.out_dir, f"bucket={b}") for b in done]
        return spark.read.parquet(*paths)

    def metrics(self) -> dict:
        return self._load_manifest()
