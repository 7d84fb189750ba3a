"""Training-data text operators: dedup sketches over the documents table.

Large-scale training-data pipelines need near-duplicate detection and text
quality signals as first-class relational operators. Everything here is
expressed as joins + aggregations (the shape that scales on a 1000-executor
cluster: shingle explode -> hash -> band bucket -> equi-join -> verify),
with NO Python in the hot path. Hash primitive is md5 (identical across
engines), so each operator carries an exact DuckDB oracle: the same logical
SQL is rendered for Spark and DuckDB with a tiny dialect table
(split/posexplode vs string_split/unnest, xor spelling).

Operators:
- minhash_lsh_pairs: word-3-gram shingles -> k=16 MinHash (BIGINT
  Carter-Wegman permutations of a 60-bit md5-derived shingle hash) ->
  4x4 banded LSH buckets -> candidate pairs -> exact Jaccard
  verification (>= 0.5).
- simhash + simhash_dup_pairs: 48-bit SimHash from per-nibble md5 bits
  (48 stays inside exact-double integer range so both engines agree
  bit-for-bit), hamming <= 6 candidate pairs.
- doc_fingerprint: bottom-5 sketch (5 smallest salted shingle hashes) --
  winnowing-style document signature.
- lang_id: stopword-marker scoring (en/de/fr/es) with deterministic
  argmax.

Scale notes: shingle explode multiplies rows ~50x but is map-side only;
the LSH band join is an equi-join on (band, band_key) whose fanout is the
duplicate-cluster size (AQE handles hot buckets); exact-verify joins touch
only candidate pairs, not the full cross product.
"""

from __future__ import annotations

from .session import cached_view


# dup_docs: originals + exact copies (%7) + near-dup variants (%5, tail
# appended => high-but-<1 Jaccard)
DUP_DOCS_CTE = """
dup_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         text || ' common appended tail marker words' AS text
  FROM documents WHERE doc_id % 5 = 0
)
"""

# engine dialect: words-with-index extraction from dup_docs
WORDS_SPARK = """
words AS (
  SELECT doc_id, pos AS idx, col AS w
  FROM dup_docs LATERAL VIEW posexplode(split(text, ' ')) AS pos, col
)
"""
WORDS_DUCK = """
words AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS idx,
         unnest(string_split(text, ' ')) AS w
  FROM dup_docs
)
"""

SHINGLES_CTE = """
shingles AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
  FROM words a
  JOIN words b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
  JOIN words c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
),
sh_sets AS (SELECT DISTINCT doc_id, sh FROM shingles)
"""

# Spark-side shingles are built MAP-SIDE with array ops (transform over the
# split array) — zero shuffles, where the 3-way self-join form shuffles the
# exploded words three times. The DuckDB oracle keeps the join form: same
# rows, deliberately different plan. At 100 TB this is the difference
# between a narrow scan->project stage and 3 exchanges of 50x-exploded rows.
def shingles_of(ws: str) -> str:
    """Spark SQL: the word-3-gram shingle array of the word array ``ws``
    (empty under 3 words)."""
    return (f"CASE WHEN size({ws}) >= 3"
            f" THEN transform(sequence(0, size({ws}) - 3),"
            f" i -> concat_ws(' ', {ws}[i], {ws}[i + 1], {ws}[i + 2]))"
            " ELSE array() END")


SHINGLES_SPARK = f"""
shingles AS (
  SELECT doc_id, sh
  FROM (SELECT doc_id, split(text, ' ') AS ws FROM dup_docs)
  LATERAL VIEW explode({shingles_of("ws")}) t AS sh
),
sh_sets AS (SELECT DISTINCT doc_id, sh FROM shingles)
"""


SH_SETS_VIEW = "sh_sets_cached"


def ensure_sh_sets_view(spark, sf_dir: str | None = None) -> None:
    """Materialize the distinct (doc_id, shingle) set behind a cache
    barrier. One minhash query references the shingle relation THREE times
    (minhash agg, both sides of the exact-verify join); with the
    CTE inlined, Catalyst recomputes the explode + distinct per reference.
    The cached InMemoryRelation computes it once per session — the same
    role a materialized shingle table plays in a production pipeline.

    Cached per sf_dir (session.cached_view): the relation snapshots the
    `documents` view at build time, so a session that switches sf_dir
    must not be served the previous scale's shingles."""
    cached_view(spark, SH_SETS_VIEW, sf_dir, lambda: spark.sql(
        f"WITH {DUP_DOCS_CTE}, {SHINGLES_SPARK} SELECT doc_id, sh FROM sh_sets"))


# 16 Carter-Wegman permutations (a*x + b) mod P over the 60-bit shingle
# hash reduced mod P (P = 2^31 - 1, Mersenne): pairwise-independent family,
# the standard practical stand-in for random min-wise permutations.
# Constants from the seeded LCG x <- (1103515245 x + 12345) mod 2^31,
# seed 42 (a = 2x+1 forced odd/nonzero, b = next x) — deterministic and
# engine-neutral.
MINHASH_P = 2147483647
MINHASH_AB = (
    (353508408, 1116302264), (2001353507, 1668674806),
    (1816191471, 71666532), (1792672667, 1736731266),
    (482495272, 1535244752), (782883731, 1108520142),
    (266145760, 534045436), (1802189580, 238077914),
    (680224792, 705377000), (795810307, 1440974758),
    (1798507472, 282367380), (1763569787, 1823504434),
    (1759326983, 70219520), (284145268, 1726604670),
    (636392895, 1939145516), (2061755371, 968547210),
)


# SQL text shared by minhash_pairs_df, minhash_lsh_sql and the streaming
# band keys, so no two spellings can drift apart: the 60-bit base hash of
# a shingle (first 15 md5 hex chars as BIGINT, the parse spelling the only
# dialect difference) reduced mod P once, the 16 permutations, and the 4
# band keys (4 consecutive minimums each).
def shingle_hash(sh: str, dialect: str = "spark") -> str:
    hex15 = f"substr(md5({sh}), 1, 15)"
    parse = (f"conv({hex15}, 16, 10)" if dialect == "spark"
             else f"'0x' || {hex15}")
    return f"CAST({parse} AS BIGINT) % {MINHASH_P}"


def minhash_perm(p: int, v: str) -> str:
    a, b = MINHASH_AB[p]
    return f"({a} * {v} + {b}) % {MINHASH_P}"


def band_keys(mh) -> list:
    """The 4 band keys; ``mh(p)`` is the SQL of permutation p's minimum."""
    return ["concat_ws('|', " + ", ".join(mh(4 * b + r) for r in range(4))
            + ")" for b in range(4)]


_MINHASH_MINS = [f"MIN({minhash_perm(p, 'v')}) AS mh{p}"
                 for p in range(len(MINHASH_AB))]
_BAND_KEYS = band_keys(lambda p: f"mh{p}")
_HASHED_V = {d: f"{shingle_hash('sh', d)} AS v" for d in ("spark", "duck")}


def minhash_pairs_df(spark):
    """ENGINE-side MinHash->LSH->verify as a DataFrame chain over the
    cached shingle view (ensure_sh_sets_view first). Same logical
    pipeline and output columns as its DuckDB oracle
    ``minhash_lsh_sql("duck")``.

    Why not SQL text: Spark's CacheManager substitution does not descend
    into WITH-CTE definition bodies, so ANY reference to the cached view
    from inside a CTE recomputes the full shingle pipeline from parquet
    (measured: 0 InMemoryTableScan, 18 raw scans, ~2x the wall).
    DataFrame references to spark.table(view) substitute correctly —
    the three consumers (minhash agg, both verify sides) all read the one
    InMemoryRelation. Each document's distinct-shingle count n is a
    COUNT(*) inside the MinHash aggregate and rides the band rows into the
    candidates as _n1/_n2 (no separate sizes aggregate). Expressions are
    SQL text: one Py4J call each instead of one per Column operation."""
    from pyspark.sql import functions as F

    sh = spark.table(SH_SETS_VIEW)
    minhash = (sh.selectExpr("doc_id", _HASHED_V["spark"]).groupBy("doc_id")
                 .agg(*[F.expr(e) for e in _MINHASH_MINS + ["COUNT(*) AS n"]]))
    bands = minhash.selectExpr(
        "doc_id", "n", f"posexplode(array({', '.join(_BAND_KEYS)})) AS (band, bkey)")
    cand = (bands.alias("a")
                 .join(bands.alias("b"), F.expr(
                     "a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id"))
                 .selectExpr("a.doc_id AS id1", "b.doc_id AS id2",
                             "a.n AS _n1", "b.n AS _n2")
                 .distinct())
    s1 = sh.selectExpr("doc_id AS id1", "sh")
    s2 = sh.selectExpr("doc_id AS id2", "sh")
    jac = "ni / (_n1 + _n2 - ni)"
    return (cand.join(s1, "id1").join(s2, ["id2", "sh"])
                .groupBy("id1", "id2", "_n1", "_n2")
                .agg(F.expr("COUNT(*) AS ni"))
                .where(f"{jac} >= 0.5")
                .selectExpr("id1", "id2", f"ROUND({jac}, 6) AS jaccard"))


def minhash_lsh_sql(dialect: str) -> str:
    """Full MinHash->LSH->verify pipeline as DuckDB SQL, the oracle of
    the engine's ``minhash_pairs_df``; ``dialect`` must be ``"duck"``.

    All 16 permutation minimums are computed in ONE pass over the raw
    shingles (MIN ignores duplicates, so no DISTINCT is needed first):
    one hash aggregation on doc_id, one row per doc out. The minimums are
    over BIGINT permutation values (one md5 per shingle -> 60-bit int ->
    16 Carter-Wegman (a*x+b) mod P mixes), NOT over 16 md5 strings. Band
    keys are projections, one UNION ALL branch per band."""
    if dialect != "duck":
        raise ValueError(f"minhash_lsh_sql: no {dialect!r} dialect")
    shingle_with = f"{DUP_DOCS_CTE}, {WORDS_DUCK}, {SHINGLES_CTE}"
    hashed = f"hashed AS (SELECT doc_id, {_HASHED_V['duck']} FROM shingles)"
    bands = "bands AS (" + "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {k} AS bkey FROM minhash"
        for b, k in enumerate(_BAND_KEYS)) + ")"
    return f"""
WITH {shingle_with},
{hashed},
minhash AS (
  SELECT doc_id, {", ".join(_MINHASH_MINS)}
  FROM hashed
  GROUP BY doc_id
),
{bands},
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh_sets GROUP BY doc_id),
inter AS (
  SELECT c.id1, c.id2, COUNT(*) AS ni
  FROM cand c
  JOIN sh_sets s1 ON s1.doc_id = c.id1
  JOIN sh_sets s2 ON s2.doc_id = c.id2 AND s2.sh = s1.sh
  GROUP BY c.id1, c.id2
)
SELECT i.id1, i.id2,
       ROUND(CAST(i.ni AS DOUBLE) / (n1.n + n2.n - i.ni), 6) AS jaccard
FROM inter i
JOIN sizes n1 ON n1.doc_id = i.id1
JOIN sizes n2 ON n2.doc_id = i.id2
WHERE CAST(i.ni AS DOUBLE) / (n1.n + n2.n - i.ni) >= 0.5
"""


# --- SimHash (48-bit, per-nibble md5 bits; exact in double arithmetic) ------

def _nibble(hexpos: int) -> str:
    """0-based value of hex digit at 1-based position hexpos of md5(w)."""
    return (f"(CASE WHEN instr('0123456789abcdef', substr(md5(w), {hexpos}, 1)) > 0 "
            f"THEN instr('0123456789abcdef', substr(md5(w), {hexpos}, 1)) - 1 ELSE 0 END)")


def simhash_sql(dialect: str) -> str:
    words = WORDS_SPARK if dialect == "spark" else WORDS_DUCK
    # bit j lives in nibble j/4 (hex position j/4 + 1), bit j%4 of it
    bit_sums = []
    combine = []
    for j in range(48):
        nib = _nibble(j // 4 + 1)
        bit = f"(CAST(FLOOR({nib} / {2 ** (j % 4)}.0) AS BIGINT) % 2)"
        bit_sums.append(f"SUM(2 * {bit} - 1) AS s{j}")
        combine.append(f"(CASE WHEN s{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)")
    return f"""
WITH {DUP_DOCS_CTE}, {words},
bitsums AS (
  SELECT doc_id, {", ".join(bit_sums)}
  FROM words
  GROUP BY doc_id
)
SELECT doc_id, {" + ".join(combine)} AS simhash
FROM bitsums
"""


def simhash_pairs_sql(dialect: str) -> str:
    base = simhash_sql(dialect)
    if dialect != "spark":
        # oracle: the definitional all-pairs theta join — fine for DuckDB
        # at test scale, and deliberately a DIFFERENT plan from the engine
        return f"""
WITH sh AS ({base})
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 6
"""
    # engine: pigeonhole-banded EQUI-join. Hamming <= 6 over 48 bits means
    # the 6 differing bits cannot touch all 7 disjoint bands, so every
    # qualifying pair matches exactly on >= 1 band — candidate generation
    # is a shuffle hash join on (band, band_value), never a cartesian
    # (lossless, unlike probabilistic LSH). DISTINCT collapses pairs that
    # match on several bands; the <= 6 check then verifies candidates.
    offs_widths = [(0, 7), (7, 7), (14, 7), (21, 7), (28, 7), (35, 7),
                   (42, 6)]
    band_exprs = ", ".join(
        f"(simhash div {2 ** o}) % {2 ** w}" for o, w in offs_widths)
    return f"""
WITH sh AS ({base}),
bands AS (
  SELECT doc_id, simhash, pos AS band, bk
  FROM sh
  LATERAL VIEW posexplode(array({band_exprs})) t AS pos, bk
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
WHERE bit_count(a.simhash ^ b.simhash) <= 6
"""


def fingerprint_sql(dialect: str) -> str:
    """Bottom-5 sketch: the 5 smallest salted shingle hashes per doc."""
    shingle_with = (f"{DUP_DOCS_CTE}, {SHINGLES_SPARK}" if dialect == "spark"
                    else f"{DUP_DOCS_CTE}, {WORDS_DUCK}, {SHINGLES_CTE}")
    return f"""
WITH {shingle_with},
ranked AS (
  SELECT doc_id, md5(sh) AS h,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY md5(sh)) AS rk
  FROM sh_sets
)
SELECT doc_id, rk, h
FROM ranked WHERE rk <= 5
"""


# --- language-ID heuristic (shared text: portable string functions only) ----

_LANG_MARKERS = {
    "en": ["the", "and", "with", "that"],
    "de": ["der", "und", "nicht", "das"],
    "fr": ["les", "est", "dans", "pour"],
    "es": ["los", "las", "para", "pero"],
}


def lang_id_sql() -> str:
    """Marker-hit scoring; deterministic argmax by (score desc, lang asc).
    Runs unchanged on both engines."""
    scores = []
    for lang, words in _LANG_MARKERS.items():
        terms = " + ".join(
            f"(length(padded) - length(replace(padded, ' {w} ', ''))) / {len(w) + 2}"
            for w in words)
        scores.append(f"({terms}) AS score_{lang}")
    langs = list(_LANG_MARKERS)
    # argmax via nested CASE (first lang whose score >= all others)
    conds = []
    for lg in langs:
        geq = " AND ".join(f"score_{lg} >= score_{o}" for o in langs if o != lg)
        conds.append(f"WHEN {geq} THEN '{lg}'")
    best = "CASE " + " ".join(conds) + " ELSE 'unk' END"
    return f"""
WITH padded_docs AS (
  SELECT doc_id, ' ' || text || ' ' AS padded FROM documents
),
scored AS (
  SELECT doc_id, {", ".join(scores)}
  FROM padded_docs
)
SELECT doc_id, {best} AS lang_pred,
       CAST(score_en AS BIGINT) AS n_en_markers
FROM scored
"""


# --- exact n-gram Jaccard near-dup (inverted-index equi-join) ----------------

def ngram_jaccard_df(spark, df_cap: int = 64):
    """ENGINE-side exact n-gram Jaccard over the cached shingle view
    (ensure_sh_sets_view first) — same capped-candidate rule and output
    as its oracle ngram_jaccard_sql(df_cap). A SQL spelling references
    the shingle relation SIX times, and CTE references defeat the cache
    (see minhash_pairs_df), so the explode+distinct pipeline would re-run
    ~6x from parquet; the DataFrame chain reads the one InMemoryRelation.

    Scale shape (VERDICT r4 #6): candidates sharing >= 1 cold (df <=
    df_cap) shingle numbered 20.6 M at sf1 for ~23 k true pairs, and
    verifying each against the FULL shingle sets pushed ~3.5 G rows
    through the verify join (sf1 wall 224 s). The verify now runs only
    on pairs that can possibly pass: the per-pair cold-intersection
    count ni_cold falls out of the candidate join for free, and
    ni <= ni_cold + min(hot1, hot2) is an EXACT upper bound on the full
    intersection (non-cold shared shingles are hot on both sides), so
    jac_ub = ub/(n1+n2-ub) < 0.6 prunes with zero loss. sf1: 20.6 M ->
    23 k verified pairs, wall 224 -> 46 s; identical output (the DuckDB
    oracle is unchanged)."""
    from pyspark.sql import functions as F

    sh = spark.table(SH_SETS_VIEW)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    coldsh = (sh.groupBy("sh").agg(F.count("*").alias("df"))
                .filter(F.col("df") <= df_cap).select("sh"))
    cold = sh.join(coldsh, "sh")
    csz = cold.groupBy("doc_id").agg(F.count("*").alias("c"))
    c1 = cold.select(F.col("doc_id").alias("id1"), "sh")
    c2 = cold.select(F.col("doc_id").alias("id2"), "sh")
    nic = (c1.join(c2, "sh").filter(F.col("id1") < F.col("id2"))
             .groupBy("id1", "id2").agg(F.count("*").alias("ni_cold")))
    n1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n").alias("_n1"))
    n2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("_n2"))
    k1 = csz.select(F.col("doc_id").alias("id1"), F.col("c").alias("_c1"))
    k2 = csz.select(F.col("doc_id").alias("id2"), F.col("c").alias("_c2"))
    w = nic.join(n1, "id1").join(n2, "id2").join(k1, "id1").join(k2, "id2")
    ub_ni = F.col("ni_cold") + F.least(F.col("_n1") - F.col("_c1"),
                                       F.col("_n2") - F.col("_c2"))
    jac_ub = ub_ni / (F.col("_n1") + F.col("_n2") - ub_ni)
    surv = w.filter(jac_ub >= 0.6).select("id1", "id2")
    a = sh.select(F.col("doc_id").alias("id1"), "sh")
    b = sh.select(F.col("doc_id").alias("id2"), "sh")
    inter = (surv.join(a, "id1").join(b, ["id2", "sh"])
                 .groupBy("id1", "id2").agg(F.count("*").alias("ni")))
    jac = F.col("ni") / (F.col("_n1") + F.col("_n2") - F.col("ni"))
    return (inter.join(n1, "id1").join(n2, "id2")
                 .filter(jac >= 0.6)
                 .select("id1", "id2", F.round(jac, 6).alias("jaccard")))


def ngram_jaccard_sql(df_cap: int | None = 64) -> str:
    """EXACT word-3-gram Jaccard >= 0.6 pairs, the DuckDB oracle of
    :func:`ngram_jaccard_df` — the deterministic baseline the MinHash-LSH
    path approximates.

    Candidate generation is an inverted-index equi-join on the shingle
    (one shuffle keyed by shingle). Uncapped, its cost is sum over
    shingles of df^2 — at 100 TB, stopword-like shingles with huge df
    make that sum explode while contributing almost nothing to any
    pair's Jaccard. With ``df_cap=K``, shingles with df > K are dropped
    from CANDIDATE GENERATION ONLY, bounding the join fanout by
    sum_{df<=K} df^2 <= K * (total shingle postings) — LINEAR in corpus
    size for fixed K. The Jaccard itself is then computed exactly over
    the candidates' FULL shingle sets (hot shingles included), so every
    reported pair carries its true Jaccard; the only approximation is
    that a pair ALL of whose shared shingles are hotter than K is never
    considered (for K well above the near-dup cluster size this requires
    every shared shingle to be corpus-stopword-hot — vanishingly rare for
    Jaccard >= 0.6 pairs, and verified exact at test scale in
    tests/test_textops_cap.py). ``df_cap=None`` keeps the uncapped
    semantics."""
    shingle_with = f"{DUP_DOCS_CTE}, {WORDS_DUCK}, {SHINGLES_CTE}"
    if df_cap is None:
        return f"""
WITH {shingle_with},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh_sets GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS ni
  FROM sh_sets s1
  JOIN sh_sets s2 ON s2.sh = s1.sh AND s1.doc_id < s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id
)
SELECT i.id1, i.id2,
       ROUND(CAST(i.ni AS DOUBLE) / (n1.n + n2.n - i.ni), 6) AS jaccard
FROM inter i
JOIN sizes n1 ON n1.doc_id = i.id1
JOIN sizes n2 ON n2.doc_id = i.id2
WHERE CAST(i.ni AS DOUBLE) / (n1.n + n2.n - i.ni) >= 0.6
"""
    return f"""
WITH {shingle_with},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh_sets GROUP BY doc_id),
cold AS (
  SELECT sh, doc_id FROM sh_sets
  WHERE sh IN (SELECT sh FROM sh_sets GROUP BY sh
               HAVING COUNT(*) <= {int(df_cap)})
),
cand AS (
  SELECT s1.doc_id AS id1, s2.doc_id AS id2
  FROM cold s1
  JOIN cold s2 ON s2.sh = s1.sh AND s1.doc_id < s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id
),
inter AS (
  SELECT c.id1, c.id2, COUNT(*) AS ni
  FROM cand c
  JOIN sh_sets a ON a.doc_id = c.id1
  JOIN sh_sets b ON b.doc_id = c.id2 AND b.sh = a.sh
  GROUP BY c.id1, c.id2
)
SELECT i.id1, i.id2,
       ROUND(CAST(i.ni AS DOUBLE) / (n1.n + n2.n - i.ni), 6) AS jaccard
FROM inter i
JOIN sizes n1 ON n1.doc_id = i.id1
JOIN sizes n2 ON n2.doc_id = i.id2
WHERE CAST(i.ni AS DOUBLE) / (n1.n + n2.n - i.ni) >= 0.6
"""


# --- token counting (whitespace + BPE-style pre-tokenizer regex) -------------

# GPT-2-style pre-tokenizer: contraction suffixes, space-prefixed letter
# runs, space-prefixed digit runs, space-prefixed punctuation runs. Both
# Java regex (Spark) and RE2 (DuckDB) use leftmost-first alternation, so
# the token boundaries agree across engines.
_BPE_PATTERN = "''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def token_count_sql(dialect: str) -> str:
    """Per-doc token counts: whitespace tokens (split on single space, the
    corpus delimiter) and BPE-ish pre-tokenizer matches. Pure JVM/native
    string expressions — no Python in either engine."""
    if dialect == "spark":
        bpe = f"regexp_count(text, '{_BPE_PATTERN}')"
    else:
        bpe = f"length(regexp_extract_all(text, '{_BPE_PATTERN}'))"
    return f"""
SELECT doc_id,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
         AS n_ws_tokens,
       CAST({bpe} AS BIGINT) AS n_bpe_tokens
FROM documents
"""


# --- Gopher-style within-doc repetition signals ------------------------------

def repetition_sql(dialect: str, block: int = 5) -> str:
    """Per-document repetition quality signals (Gopher-style filters):
    type/token ratio, top-word fraction, top-bigram fraction, and the
    fraction of non-overlapping ``block``-word blocks that repeat WITHIN
    the doc (the corpus has no newlines, so fixed word blocks stand in
    for Gopher's duplicate-line fraction). Everything is word counting —
    map-side n-gram construction plus per-(doc, gram) hash aggregations
    with map-side combine; the per-doc rollups are output-sized."""
    if dialect == "spark":
        grams = f"""
docs AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
words AS (SELECT doc_id, w FROM docs LATERAL VIEW explode(ws) t AS w),
bigrams AS (
  SELECT doc_id, bg FROM docs
  LATERAL VIEW explode(
    CASE WHEN size(ws) >= 2
         THEN transform(sequence(0, size(ws) - 2),
                        i -> concat_ws(' ', ws[i], ws[i + 1]))
         ELSE array() END) t AS bg
),
blocks AS (
  SELECT doc_id, bl FROM docs
  LATERAL VIEW explode(
    CASE WHEN size(ws) >= {block}
         THEN transform(sequence(0, CAST(FLOOR(size(ws) / {block}.0) AS INT) - 1),
                        i -> concat_ws(' ', slice(ws, i * {block} + 1, {block})))
         ELSE array() END) t AS bl
)"""
    else:
        grams = f"""
docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
words AS (SELECT doc_id, unnest(ws) AS w FROM docs),
bigrams AS (
  SELECT doc_id, bg
  FROM docs, LATERAL UNNEST(
    CASE WHEN len(ws) >= 2
         THEN list_transform(generate_series(1, len(ws) - 1),
                             i -> array_to_string(list_slice(ws, i, i + 1), ' '))
         ELSE [] END) AS t(bg)
),
blocks AS (
  SELECT doc_id, bl
  FROM docs, LATERAL UNNEST(
    CASE WHEN len(ws) >= {block}
         THEN list_transform(generate_series(0, CAST(FLOOR(len(ws) / {block}.0) AS INT) - 1),
                             i -> array_to_string(
                                 list_slice(ws, i * {block} + 1, i * {block} + {block}), ' '))
         ELSE [] END) AS t(bl)
)"""
    return f"""
WITH {grams},
wcounts AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w),
uni AS (
  SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_types, MAX(c) AS top_w
  FROM wcounts GROUP BY doc_id
),
bcounts AS (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg),
bi AS (SELECT doc_id, SUM(c) AS n_bi, MAX(c) AS top_b FROM bcounts GROUP BY doc_id),
kcounts AS (SELECT doc_id, bl, COUNT(*) AS c FROM blocks GROUP BY doc_id, bl),
blk AS (
  SELECT doc_id, SUM(c) AS n_blocks,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_blocks
  FROM kcounts GROUP BY doc_id
)
SELECT u.doc_id,
       CAST(u.n_words AS BIGINT) AS n_words,
       ROUND(CAST(u.n_types AS DOUBLE) / u.n_words, 6) AS type_token_ratio,
       ROUND(CAST(u.top_w AS DOUBLE) / u.n_words, 6) AS top_word_frac,
       ROUND(CAST(b.top_b AS DOUBLE) / b.n_bi, 6) AS top_bigram_frac,
       ROUND(CAST(COALESCE(k.dup_blocks, 0) AS DOUBLE)
             / COALESCE(k.n_blocks, 1), 6) AS dup_block_frac
FROM uni u
LEFT JOIN bi b ON b.doc_id = u.doc_id
LEFT JOIN blk k ON k.doc_id = u.doc_id
"""


# --- PII detection / redaction ------------------------------------------------

# backslash-free patterns that parse identically in Java regex and RE2
_PII_EMAIL = "[a-z0-9]+@[a-z0-9.]+"
_PII_IPV4 = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"
_PII_PHONE = "[+][0-9-]+"

# deterministic PII injection (the corpus itself is PII-free): the same
# integer-string synthesis trick as dup_docs/pages, byte-identical across
# engines
_PII_DOCS_CTE = """
pii_docs AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 5 = 0
             THEN ' contact user' || doc_id || '@mail.example for details'
           WHEN doc_id % 5 = 1
             THEN ' server 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                  || '.' || ((doc_id * 13) % 256) || ' responded'
           WHEN doc_id % 5 = 2
             THEN ' call +1-555-' || lpad('' || (doc_id % 10000), 4, '0') || ' now'
           ELSE '' END AS text
  FROM documents
)
"""


def pii_sql(dialect: str) -> str:
    """Per-doc PII hit counts + the md5 of the fully-redacted text — the
    scrubbing pass every training corpus runs. Pure native regex in both
    engines (JVM codegen in Spark; the redaction chain is 3 nested
    regexp_replace calls, one projection, zero shuffles)."""
    if dialect == "spark":
        def count(p):
            return f"regexp_count(text, '{p}')"
        def redact(expr, p, tag):
            return f"regexp_replace({expr}, '{p}', '{tag}')"
    else:
        def count(p):
            return f"len(regexp_extract_all(text, '{p}'))"
        def redact(expr, p, tag):
            return f"regexp_replace({expr}, '{p}', '{tag}', 'g')"
    redacted = redact(redact(redact("text", _PII_EMAIL, "<EMAIL>"),
                             _PII_IPV4, "<IP>"), _PII_PHONE, "<PHONE>")
    return f"""
WITH {_PII_DOCS_CTE}
SELECT doc_id,
       CAST({count(_PII_EMAIL)} AS BIGINT) AS n_emails,
       CAST({count(_PII_IPV4)} AS BIGINT) AS n_ips,
       CAST({count(_PII_PHONE)} AS BIGINT) AS n_phones,
       md5({redacted}) AS redacted_md5
FROM pii_docs
"""


# --- substring-level duplication (RefinedWeb/"dedup training data" style) ---

def substring_dup_sql(dialect: str, n: int = 8) -> str:
    """Per-document substring contamination: the fraction of a doc's
    word-``n``-gram spans that also appear in ANOTHER document — the
    span-level signal used to strip boilerplate/copied passages from
    training corpora (doc-level MinHash misses partial copies).

    Same inverted-index shape as the other dedup ops: span df is a
    hash aggregation with map-side partial combine (one shuffle keyed by
    span), the per-doc rollup a second. Spark builds spans MAP-SIDE from
    the split array (zero shuffles before the agg); the DuckDB oracle
    uses list functions — same rows, different plan."""
    if dialect == "spark":
        spans_cte = f"""
spans AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, split(text, ' ') AS ws FROM dup_docs)
  LATERAL VIEW explode(
    CASE WHEN size(ws) >= {n}
         THEN transform(sequence(1, size(ws) - {n - 1}),
                        i -> concat_ws(' ', slice(ws, i, {n})))
         ELSE array() END) t AS sh
)"""
    else:
        spans_cte = f"""
spans AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM dup_docs),
  LATERAL UNNEST(
    CASE WHEN len(ws) >= {n}
         THEN list_transform(generate_series(1, len(ws) - {n - 1}),
                             i -> array_to_string(
                                 list_slice(ws, i, i + {n - 1}), ' '))
         ELSE [] END) AS t(sh)
)"""
    return f"""
WITH {DUP_DOCS_CTE}, {spans_cte},
span_df AS (
  SELECT sh, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY sh
)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       ROUND(CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS shared_frac
FROM spans s JOIN span_df d ON d.sh = s.sh
GROUP BY s.doc_id
"""


# --- benchmark decontamination (n-gram overlap scan) -------------------------

def decontam_sql(dialect: str, n: int = 8) -> str:
    """Benchmark decontamination: flag training docs that share any
    word-``n``-gram with a held-out evaluation set — the overlap rule
    training-data pipelines apply before training so benchmark text never
    leaks into the corpus (typically 8-13 word n-grams).

    The eval set here is the deterministic slice doc_id % 101 == 0 of the
    originals; contaminated rows are those docs themselves plus their
    exact/near copies in dup_docs. Shape at scale: eval n-grams are tiny
    (benchmarks are MBs, the corpus is TBs), so the probe is a BROADCAST
    hash join against the full corpus's map-side-built n-grams — one scan
    of the corpus, no shuffle of corpus-sized data; the per-doc rollup is
    a hash aggregation on doc_id. Output only contaminated docs."""
    if dialect == "spark":
        grams = f"""
grams AS (
  SELECT doc_id, g
  FROM (SELECT doc_id, split(text, ' ') AS ws FROM dup_docs)
  LATERAL VIEW explode(
    CASE WHEN size(ws) >= {n}
         THEN transform(sequence(0, size(ws) - {n}),
                        i -> concat_ws(' ', slice(ws, i + 1, {n})))
         ELSE array() END) t AS g
)"""
        hint = "/*+ BROADCAST(b) */ "
    else:
        grams = f"""
grams AS (
  SELECT doc_id, array_to_string(list_slice(ws, i, i + {n - 1}), ' ') AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM dup_docs),
       UNNEST(generate_series(1, GREATEST(len(ws) - {n - 1}, 0))) AS t(i)
)"""
        hint = ""
    return f"""
WITH {DUP_DOCS_CTE},{grams},
gsets AS (SELECT DISTINCT doc_id, g FROM grams),
bench AS (
  SELECT DISTINCT g FROM gsets WHERE doc_id % 101 = 0 AND doc_id < 100000
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM gsets GROUP BY doc_id),
hits AS (
  SELECT {hint}s.doc_id, COUNT(*) AS n_hits
  FROM gsets s JOIN bench b ON b.g = s.g
  GROUP BY s.doc_id
)
SELECT h.doc_id, h.n_hits, z.n_grams,
       ROUND(CAST(h.n_hits AS DOUBLE) / z.n_grams, 6) AS hit_frac,
       CAST(CASE WHEN h.doc_id % 101 = 0 AND h.doc_id < 100000
            THEN 1 ELSE 0 END AS INT) AS is_eval_doc
FROM hits h JOIN sizes z ON z.doc_id = h.doc_id
"""
