"""`dedup`: MinHash-LSH near-duplicate pairs, then connected components.

The input is a seeded `documents` view: base documents repeated REPLICAS
times with every word tagged by its replica number, so replicas share no
shingles while DUP_DOCS_CTE's %7 exact copies and %5 near-duplicates keep
the duplicate structure; the pair count grows linearly with REPLICAS. The
whole workload runs on the JVM (no Python UDF), so it is the control for
changes to the Python boundary: shuffle, joins and many small Spark jobs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from common import make_documents

N_DOCS = 5_000   # base documents (the size of the sf0.1 documents table)
REPLICAS = 1     # doc ids stay below DUP_DOCS_CTE's +100000 copy offset
CROSSCHECK_DOCS = 1_000
_P, _K = 2147483647, 1000003


def _digest_cols(df):
    """Order-independent digest of a (doc_id, component) map."""
    mix = F.pmod(F.col("doc_id") * _K + F.col("component"), F.lit(_P))
    return df.agg(F.count(F.lit(1)), F.sum("component"), F.sum(mix),
                  F.countDistinct("component"))


class Dedup:
    name = "dedup"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.docs_path = os.path.join(workdir, "documents.parquet")
        self.expected = None

    def config(self) -> dict:
        return {"docs": N_DOCS, "replicas": REPLICAS}

    def setup(self):
        import pyarrow.parquet as pq

        docs = make_documents(self.seed, N_DOCS, replicas=REPLICAS)
        pq.write_table(docs, self.docs_path)
        # created once: ensure_sh_sets_view caches shingles per
        # (application, key), so swapping the view later would be served
        # stale shingles
        self.spark.read.parquet(self.docs_path).createOrReplaceTempView("documents")
        n = docs.num_rows
        self.rows_per_job = n + len(range(0, n, 7)) + len(range(0, n, 5))

    def expected_outputs(self) -> tuple:
        return self.oracle_digest()

    def oracle_digest(self, limit: int | None = None) -> tuple:
        """Expected digest: the registry's DuckDB MinHash-LSH SQL (the
        minhash_lsh_pairs oracle) for the pairs, then a driver-side
        union-find for the components, a different algorithm from
        graph.connected_components. ``limit`` keeps the first documents."""
        import duckdb
        from proj_spark import textops

        con = duckdb.connect()
        try:
            self._duck_documents(con, limit)
            ids = [r[0] for r in con.execute(
                f"WITH {textops.DUP_DOCS_CTE} SELECT doc_id FROM dup_docs").fetchall()]
            pairs = con.execute(textops.minhash_lsh_sql("duck")).fetchall()
        finally:
            con.close()
        parent = {i: i for i in ids}

        def root(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for a, b, _ in pairs:
            ra, rb = root(a), root(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {i: root(i) for i in ids}  # union by min: root = min member
        return (len(comp), sum(comp.values()),
                sum((i * _K + c) % _P for i, c in comp.items()),
                len(set(comp.values())))

    def _duck_documents(self, con, limit):
        # one thread: the expectation is computed beside the first warm-up
        # job, which should keep the other cores
        con.execute("SET threads TO 1")
        where = f"WHERE doc_id < {limit}" if limit else ""
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.docs_path}') {where}")

    def registry_oracle_digest(self, limit: int) -> tuple:
        """ORACLES["dedup_components"] (DuckDB recursive transitive closure)
        over the first ``limit`` documents, reduced to the same digest."""
        import duckdb
        from proj_spark.querylib import ORACLES

        con = duckdb.connect()
        try:
            self._duck_documents(con, limit)
            return tuple(int(v) for v in con.execute(f"""
                SELECT COUNT(*), SUM(component),
                       SUM((doc_id * {_K} + component) % {_P}),
                       COUNT(DISTINCT component)
                FROM ({ORACLES['dedup_components']}) cc""").fetchone())
        finally:
            con.close()

    # -- one timed job -----------------------------------------------------

    def job(self, i: int, tr):
        from proj_spark import graph, textops

        spark = self.spark
        with tr.span("plan:textops"):
            textops.ensure_sh_sets_view(spark, self.docs_path)
            pairs_df = textops.minhash_pairs_df(spark)
        with tr.span("action:lsh"):
            t = time.perf_counter()
            pairs = pairs_df.localCheckpoint(eager=True)
            lsh_s = time.perf_counter() - t
        with tr.span("eager:graph.connected_components"):
            cc_ms = [time.time() * 1000.0]
            t = time.perf_counter()
            edges = pairs.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
            nodes = spark.sql(f"WITH {textops.DUP_DOCS_CTE} "
                              "SELECT doc_id AS id FROM dup_docs")
            comp = graph.connected_components(nodes, edges)
            cc_s = time.perf_counter() - t
            cc_ms.append(time.time() * 1000.0)
        with tr.span("action:digest"):
            row = _digest_cols(comp.select(F.col("id").alias("doc_id"),
                                           "component")).collect()[0]
        return {"digest": tuple(int(v) for v in row), "pairs": pairs,
                "lsh_s": lsh_s, "cc_s": cc_s, "cc_ms": cc_ms}

    def check(self, result) -> bool:
        return result["digest"] == self.expected

    # -- traced-run layer numbers ------------------------------------------

    def layers(self, result, rec) -> dict:
        verified = result["pairs"].count()
        # distinct LSH candidates: the final aggregate of minhash_pairs_df's
        # candidate DISTINCT (keys id1, id2 and no aggregate function)
        cand = [n["metrics"].get("number of output rows", 0.0) for n in rec["nodes"]
                if n["name"] == "HashAggregate" and "functions=[]" in n["desc"]
                and "keys=[id1#" in n["desc"]]
        cand = min(cand) if cand else 0.0
        return {
            "textops.lsh_s": result["lsh_s"],
            "textops.verified_pairs": verified,
            "textops.lsh_candidate_pairs": cand,
            "textops.lsh_precision": verified / cand if cand else 0.0,
            "graph.cc_s": result["cc_s"],
            "graph.cc_spark_jobs": sum(
                result["cc_ms"][0] <= j["submissionTime"] <= result["cc_ms"][1]
                for j in rec["jobs"]),
        }

    def extra_layers(self, tr) -> tuple[dict, bool]:
        """Cross-check at a small size: the union-find expectation used by
        every job against the registry's dedup_components oracle."""
        with tr.span("crosscheck:dedup_components"):
            ok = self.oracle_digest(CROSSCHECK_DOCS) == self.registry_oracle_digest(CROSSCHECK_DOCS)
        return {}, ok
