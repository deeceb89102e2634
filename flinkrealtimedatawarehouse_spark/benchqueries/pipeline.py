"""LLM-data-pipeline driver queries (north-star operators) with exact
DuckDB oracles.

Near-dup / similarity tests plant deterministic duplicates (same
transformation expressed in both engines) so the checks exercise real
positive cases, not just empty agreement:

- exact dedup: every doc_id % 5 == 0 re-inserted verbatim at id+10000
- near-dup:    every doc_id % 7 == 0 re-inserted at id+20000 with one
               appended token (' zyx') — high-Jaccard, small-Hamming twins
- embeddings:  every vec_id % 11 == 0 re-inserted at id+10000 verbatim —
               cosine-1.0 twins

MinHash/SimHash oracles are GENERATED from the same constants as the Spark
expressions (datapipeline.hashing) — bit-for-bit identical signatures.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.datapipeline import multimodal, similarity, textdedup, textstats
from flinkrealtimedatawarehouse_spark.datapipeline.hashing import (
    MERSENNE31,
    duck_minhash,
    duck_phash,
    duck_hash_shingles,
    duck_hash_shingles_wide,
    duck_shingles,
    duck_token_hashes,
    duck_tokens,
)
from flinkrealtimedatawarehouse_spark.datapipeline.similarity import (
    PLANE_A,
    PLANE_B,
    PLANE_C,
    PLANE_MOD,
    PLANE_SHIFT,
)
from flinkrealtimedatawarehouse_spark.tables import load_table

# --- shared planted-duplicate builders (Spark + SQL twins) ----------------

def _docs_with_exact_dups(spark, sf):
    docs = load_table(spark, sf, "documents")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return docs.unionByName(planted)

_SQL_EXACT_DUPS = """
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 10000, text, lang, source, n_chars FROM documents WHERE doc_id % 5 = 0
"""

def _docs_with_near_dups(spark, sf):
    # Planted ids are doc_id + 20000. At sf0.01 (the driver gate) that is
    # disjoint from every real id; at the sf1 sweep's amplified ids it can
    # COLLIDE with real doc_ids — harmless for gate parity (both engines
    # apply the identical union, so joins/hashes agree), but means doc_id
    # is not unique in this fixture at large sf. Kept as-is because the
    # offset is baked into committed gate outputs' id_b values.
    docs = load_table(spark, sf, "documents")
    planted = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zyx")).alias("text"),
        "lang", "source", "n_chars",
    )
    return docs.unionByName(planted)

_SQL_NEAR_DUPS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000, text || ' zyx' FROM documents WHERE doc_id % 7 = 0
"""

def _emb_with_dups(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    planted = emb.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    return emb.unionByName(planted)

_SQL_EMB_DUPS = """
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 11 = 0
"""

_DUCK_Q = "list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)"


def _duck_bucket(q: str, n_planes: int, plane_offset: int = 0) -> str:
    terms = []
    for p in range(n_planes):
        pl = p + plane_offset
        proj = (
            f"list_sum(list_transform(range(1, len({q}) + 1), "
            f"d -> ({q})[d] * ((({pl} * {PLANE_A} + (d - 1) * "
            f"{PLANE_B + pl * PLANE_C}) % {PLANE_MOD}) - {PLANE_SHIFT})))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def _duck_cosine(qa: str, qb: str) -> str:
    dot = f"list_sum(list_transform(range(1, len({qa}) + 1), i -> ({qa})[i] * ({qb})[i]))"
    na = f"list_sum(list_transform({qa}, x -> x * x))"
    nb = f"list_sum(list_transform({qb}, x -> x * x))"
    return f"round(({dot})::DOUBLE / sqrt(({na})::DOUBLE * ({nb})::DOUBLE), 6)"


# --- dp1 exact dedup ------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    d = textdedup.exact_dedup(_docs_with_exact_dups(spark, sf), "doc_id", "text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("ct"),
        F.sum("is_duplicate").cast("long").alias("dup_ct"),
        F.countDistinct("content_hash").alias("uniq_ct"),
    )

SQL_EXACT_DEDUP = f"""
WITH a AS ({_SQL_EXACT_DUPS}),
h AS (
  SELECT *, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm,
         min(doc_id) OVER (PARTITION BY trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS mn
  FROM a
)
SELECT source, count(*)::BIGINT AS ct,
       sum(CASE WHEN doc_id <> mn THEN 1 ELSE 0 END)::BIGINT AS dup_ct,
       count(DISTINCT norm)::BIGINT AS uniq_ct
FROM h GROUP BY 1
"""

# --- dp2 MinHash + LSH near-dup ------------------------------------------

_MH_K, _MH_BANDS, _MH_N, _MH_THRESH = 16, 8, 3, 0.35

def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return textdedup.minhash_near_dups(
        _docs_with_near_dups(spark, sf), "doc_id", "text",
        shingle_n=_MH_N, k=_MH_K, bands=_MH_BANDS, threshold=_MH_THRESH,
    )

def _sql_sigs_cte() -> str:
    toks = duck_tokens("text")
    return f"""
a AS ({_SQL_NEAR_DUPS}),
tk AS (SELECT doc_id, {duck_token_hashes(toks)} AS th FROM a),
sg AS (
  SELECT doc_id, list_distinct({duck_hash_shingles('th', _MH_N)}) AS shingles FROM tk
),
ms AS (
  SELECT doc_id, shingles, {duck_minhash('shingles', _MH_K)} AS sig
  FROM sg WHERE len(shingles) > 0
)"""

_R = _MH_K // _MH_BANDS  # rows per band

SQL_MINHASH_LSH = f"""
WITH {_sql_sigs_cte()},
bd AS (
  SELECT doc_id, bi.band_idx,
         concat_ws('_', sig[2 * bi.band_idx + 1], sig[2 * bi.band_idx + 2]) AS band_key
  FROM ms CROSS JOIN (SELECT unnest(generate_series(0, {_MH_BANDS - 1})) AS band_idx) bi
),
cd AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bd a JOIN bd b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
jv AS (
  SELECT id_a, id_b,
         round(len(list_intersect(x.shingles, y.shingles))::DOUBLE /
               len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
  FROM cd JOIN ms x ON x.doc_id = id_a JOIN ms y ON y.doc_id = id_b
)
SELECT * FROM jv WHERE jaccard >= {_MH_THRESH}
"""

# A cap that BINDS at the driver's gate scale (max sf0.01 band bucket = 4
# docs; tests/test_datapipeline.py::test_mh_gate_cap_binds_at_gate_scale
# asserts it stays binding if the corpus regenerates), so the gate
# exercises the representative-chaining rule on the MinHash family too —
# not just the planted tests: over-cap buckets emit only (rotating rep,
# member) candidates, mirrored in SQL below.
_MH_CAP_GATE = 2

def q_dp2c(spark: SparkSession, sf: str) -> DataFrame:
    """dp2 tagged union: the exact (uncapped) MinHash-LSH near-dup run +
    the same run under a deliberately-binding hot-bucket cap, so the
    chaining candidate algebra is hash-verified against an independent
    engine at every gate scale.

    The CPU-dense signature stage (tokenize -> shingle -> md5 -> k
    permutation mins) is computed ONCE and shared by both branches —
    only the candidate generation differs between them, so running
    ``minhash_near_dups`` end-to-end twice would re-pay the dominant
    stage for nothing (round-10 ADVICE)."""
    from pyspark.storagelevel import StorageLevel

    docs = _docs_with_near_dups(spark, sf)
    n_part = spark.sparkContext.defaultParallelism
    sigs = textdedup.minhash_signatures(
        docs.repartition(n_part), "doc_id", "text", _MH_N, _MH_K
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        branches = []
        for branch, cap in (("exact", None), ("capped", _MH_CAP_GATE)):
            cands = textdedup.lsh_candidate_pairs(
                sigs, "doc_id", _MH_BANDS, _MH_K // _MH_BANDS, hot_bucket_cap=cap
            )
            branches.append(
                textdedup.jaccard_verify(cands, sigs, "doc_id")
                .filter(F.col("jaccard") >= _MH_THRESH)
                .select(F.lit(branch).alias("branch"), "id_a", "id_b", "jaccard")
            )
        # materialize before releasing the shared signature cache (same
        # rule as minhash_near_dups' own tail)
        return branches[0].unionByName(branches[1]).localCheckpoint(eager=True)
    finally:
        sigs.unpersist()

SQL_DP2C = f"""
SELECT 'exact' AS branch, * FROM ({SQL_MINHASH_LSH})
UNION ALL
SELECT 'capped' AS branch, * FROM (
WITH {_sql_sigs_cte()},
bd AS (
  SELECT doc_id, bi.band_idx,
         concat_ws('_', sig[2 * bi.band_idx + 1], sig[2 * bi.band_idx + 2]) AS band_key
  FROM ms CROSS JOIN (SELECT unnest(generate_series(0, {_MH_BANDS - 1})) AS band_idx) bi
),
bsz AS (
  SELECT band_idx, band_key, count(*) AS c,
         CASE WHEN band_idx % 2 = 0 THEN min(doc_id) ELSE max(doc_id) END AS rep_id
  FROM bd GROUP BY 1, 2
),
bdc AS (
  SELECT bd.* FROM bd JOIN bsz USING (band_idx, band_key) WHERE bsz.c <= {_MH_CAP_GATE}
),
cd AS (
  SELECT DISTINCT * FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bdc a JOIN bdc b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    UNION ALL
    -- over-cap buckets: representative chaining (min-id rep on even
    -- bands, max-id on odd), mirroring textdedup.lsh_candidate_pairs's
    -- hot branch term-for-term
    SELECT least(bd.doc_id, bsz.rep_id) AS id_a, greatest(bd.doc_id, bsz.rep_id) AS id_b
    FROM bd JOIN bsz USING (band_idx, band_key)
    WHERE bsz.c > {_MH_CAP_GATE} AND bd.doc_id <> bsz.rep_id
  )
),
jv AS (
  SELECT id_a, id_b,
         round(len(list_intersect(x.shingles, y.shingles))::DOUBLE /
               len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
  FROM cd JOIN ms x ON x.doc_id = id_a JOIN ms y ON y.doc_id = id_b
)
SELECT * FROM jv WHERE jaccard >= {_MH_THRESH}
)
"""

# --- dp3 SimHash near-dup -------------------------------------------------

_SH_MAXH = 6
# Hot-band skew guard, mirrored EXACTLY in the DuckDB twin. Sized above the
# biggest sf0.01 band bucket (279 docs — templated text clusters even
# there), so at the driver's gate scale the cap binds nothing and the
# result is bit-identical to the uncapped form; at the 10x sf1 sweep it is
# what makes the gate finish at all (uncapped: 57k docs -> a 24k-doc band
# bucket -> 885M candidate pairs -> driver OOM; capped: 3.8M pairs).
_SH_CAP = 500

def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return textdedup.simhash_near_dups(
        _docs_with_near_dups(spark, sf), "doc_id", "text",
        max_hamming=_SH_MAXH, hot_bucket_cap=_SH_CAP,
    )

def _duck_simhash(th: str) -> str:
    terms = []
    for i in range(textdedup.SIMHASH_BITS):
        s = f"list_sum(list_transform({th}, h -> ((h >> {i}) & 1) * 2 - 1))"
        terms.append(f"(CASE WHEN {s} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"

SQL_SIMHASH = f"""
WITH a AS ({_SQL_NEAR_DUPS}),
tk AS (
  SELECT doc_id, list_transform(list_distinct({duck_tokens('text')}), t -> {duck_phash('t')}) AS th
  FROM a
),
sm AS (
  SELECT doc_id, {_duck_simhash('th')} AS simhash FROM tk WHERE len(th) > 0
),
bd AS (
  SELECT doc_id, simhash, bi.band_idx, (simhash >> (8 * bi.band_idx)) & 255 AS band_val
  FROM sm CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_idx) bi
),
bsz AS (
  SELECT band_idx, band_val, count(*) AS c FROM bd GROUP BY 1, 2
),
bdc AS (
  SELECT bd.* FROM bd JOIN bsz USING (band_idx, band_val) WHERE bsz.c <= {_SH_CAP}
),
-- over-cap bucket members with the sorted-neighbor chain keys, mirroring
-- textdedup.simhash_near_dups's round-14 hot branch: rotk = the member's
-- own simhash rotated right so band (band_idx+1) is the lowest byte;
-- seg = the top VARYING byte of that key (band_idx+3's value)
bdh AS (
  SELECT bd.*,
         ((bd.simhash >> (8 * ((bd.band_idx + 1) % 4))) |
          ((bd.simhash & ((1::BIGINT << (8 * ((bd.band_idx + 1) % 4))) - 1))
           << (32 - 8 * ((bd.band_idx + 1) % 4)))) AS rotk,
         (bd.simhash >> (8 * ((bd.band_idx + 3) % 4))) & 255 AS seg
  FROM bd JOIN bsz USING (band_idx, band_val)
  WHERE bsz.c > {_SH_CAP}
),
mch AS (
  SELECT doc_id, simhash,
         lag(doc_id) OVER w AS pid, lag(simhash) OVER w AS psim
  FROM bdh
  WINDOW w AS (PARTITION BY band_idx, band_val, seg ORDER BY rotk, doc_id)
),
sreps AS (
  SELECT band_idx, band_val, rotk, doc_id, simhash FROM (
    SELECT bdh.*, row_number() OVER (
      PARTITION BY band_idx, band_val, seg ORDER BY rotk, doc_id) AS rn
    FROM bdh) WHERE rn = 1
),
rch AS (
  SELECT doc_id, simhash,
         lag(doc_id) OVER w AS pid, lag(simhash) OVER w AS psim
  FROM sreps
  WINDOW w AS (PARTITION BY band_idx, band_val ORDER BY rotk, doc_id)
),
cd AS (
  SELECT DISTINCT * FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sa, b.simhash AS sb
    FROM bdc a JOIN bdc b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    UNION ALL
    -- hot: member vs its chain predecessor within the segment
    -- (sa stays the simhash OF id_a)
    SELECT least(doc_id, pid), greatest(doc_id, pid),
           CASE WHEN doc_id < pid THEN simhash ELSE psim END,
           CASE WHEN doc_id < pid THEN psim ELSE simhash END
    FROM mch WHERE pid IS NOT NULL
    UNION ALL
    -- hot: segment heads chain across the bucket (connectivity)
    SELECT least(doc_id, pid), greatest(doc_id, pid),
           CASE WHEN doc_id < pid THEN simhash ELSE psim END,
           CASE WHEN doc_id < pid THEN psim ELSE simhash END
    FROM rch WHERE pid IS NOT NULL
  )
)
SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
FROM cd WHERE bit_count(xor(sa, sb)) <= {_SH_MAXH}
"""

# --- dp4 n-gram Jaccard on explicit pairs --------------------------------

def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    all_docs = _docs_with_near_dups(spark, sf)
    sigs = textdedup.minhash_signatures(all_docs, "doc_id", "text", shingle_n=3, k=2)
    base = load_table(spark, sf, "documents")
    pairs = base.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 20000).alias("id_b")
    )
    return textdedup.jaccard_verify(pairs, sigs, "doc_id")

SQL_NGRAM_JACCARD = f"""
WITH a AS ({_SQL_NEAR_DUPS}),
tk AS (SELECT doc_id, {duck_token_hashes(duck_tokens('text'))} AS th FROM a),
sg AS (
  SELECT doc_id, list_distinct({duck_hash_shingles('th', 3)}) AS shingles FROM tk
),
ms AS (SELECT doc_id, shingles FROM sg WHERE len(shingles) > 0),
pr AS (SELECT doc_id AS id_a, doc_id + 20000 AS id_b FROM documents WHERE doc_id % 7 = 0)
SELECT id_a, id_b,
       round(len(list_intersect(x.shingles, y.shingles))::DOUBLE /
             len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
FROM pr JOIN ms x ON x.doc_id = id_a JOIN ms y ON y.doc_id = id_b
"""

# --- dp5 embedding-cosine near-dup ---------------------------------------

_ED_PLANES, _ED_THRESH = 8, 0.99
# Hot-bucket guard twin of _SH_CAP: above the biggest sf0.01 sign-bucket,
# so the driver-gate result is unchanged; bounds the sweep's pair join.
# (History: under the pre-r13 correlated planes the biggest sf1 bucket
# held 1,945 vectors and the uncapped join reached 9.1M candidate
# pairs; the r13 decorrelated planes spread the same corpus under the
# cap even at sf1x4 — the guard stays for genuinely-identical mass at
# real scale.)
_ED_CAP = 1000

def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    return textdedup.embedding_near_dups(
        _emb_with_dups(spark, sf), "vec_id", "embedding",
        threshold=_ED_THRESH, n_planes=_ED_PLANES, hot_bucket_cap=_ED_CAP,
    )

# the SQL twin below unrolls the recursive refinement to exactly this
# depth and plane budget — a change must update both sides together
# (explicit raise, not assert: must survive `python -O`)
if not (textdedup._ED_REFINE_DEPTH == 2 and textdedup._ED_REFINE_PLANES == 8):
    raise AssertionError(
        "SQL_EMBEDDING_NEARDUP is unrolled for _ED_REFINE_DEPTH=2 / "
        "_ED_REFINE_PLANES=8; textdedup's constants moved — update the "
        f"SQL twin (got depth={textdedup._ED_REFINE_DEPTH}, "
        f"planes={textdedup._ED_REFINE_PLANES})"
    )

SQL_EMBEDDING_NEARDUP = f"""
WITH a AS ({_SQL_EMB_DUPS}),
q AS (SELECT vec_id, {_DUCK_Q} AS q FROM a),
b0 AS (SELECT vec_id, q, {_duck_bucket('q', _ED_PLANES)} AS bucket FROM q),
bz AS (SELECT bucket, count(*) AS c,
              min(vec_id) AS lo_id, arg_min(q, vec_id) AS lo_q,
              max(vec_id) AS hi_id, arg_max(q, vec_id) AS hi_q
       FROM b0 GROUP BY 1),
b AS (SELECT b0.* FROM b0 JOIN bz USING (bucket) WHERE bz.c <= {_ED_CAP}),
-- over-cap members with their level-1 and level-2 STRATA: sign buckets
-- under disjoint hyperplane families (plane_offset = k * n_planes),
-- mirroring textdedup.embedding_near_dups's RECURSIVE refinement
-- (unrolled to _ED_REFINE_DEPTH = 2)
bh AS (
  SELECT b0.vec_id, b0.q, b0.bucket, bz.lo_id, bz.lo_q, bz.hi_id, bz.hi_q,
         {_duck_bucket('q', 8, _ED_PLANES)} AS st1,
         {_duck_bucket('q', 8, _ED_PLANES + 8)} AS st2
  FROM b0 JOIN bz USING (bucket) WHERE bz.c > {_ED_CAP}
),
s1 AS (SELECT bucket, st1, count(*) AS sc1 FROM bh GROUP BY 1, 2),
-- level-2 groups exist only inside still-hot level-1 groups
bh2 AS (
  SELECT bh.* FROM bh JOIN s1 USING (bucket, st1) WHERE s1.sc1 > {_ED_CAP}
),
s2 AS (
  SELECT bucket, st1, st2, count(*) AS sc2,
         min(vec_id) AS sid, arg_min(q, vec_id) AS sq,
         any_value(lo_id) AS lo_id, any_value(lo_q) AS lo_q
  FROM bh2 GROUP BY 1, 2, 3
),
cd AS (
  SELECT DISTINCT * FROM (
    SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.q AS qa, y.q AS qb
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    UNION ALL
    -- over-cap sign buckets: BOTH-ENDS representative chaining (member vs
    -- min-id rep AND member vs max-id rep; the shared (lo, hi) pair
    -- dedupes under the DISTINCT)
    SELECT lo_id AS id_a, vec_id AS id_b, lo_q AS qa, q AS qb
    FROM bh WHERE vec_id > lo_id
    UNION ALL
    SELECT vec_id AS id_a, hi_id AS id_b, q AS qa, hi_q AS qb
    FROM bh WHERE vec_id < hi_id
    UNION ALL
    -- level 1: <= cap strata run ALL-PAIRS
    SELECT x.vec_id, y.vec_id, x.q, y.q
    FROM bh x JOIN bh y ON x.bucket = y.bucket AND x.st1 = y.st1
                       AND x.vec_id < y.vec_id
    JOIN s1 ON s1.bucket = x.bucket AND s1.st1 = x.st1
    WHERE s1.sc1 <= {_ED_CAP}
    UNION ALL
    -- level 2: <= cap sub-strata of still-hot level-1 strata, all-pairs
    SELECT x.vec_id, y.vec_id, x.q, y.q
    FROM bh2 x JOIN bh2 y ON x.bucket = y.bucket AND x.st1 = y.st1
                         AND x.st2 = y.st2 AND x.vec_id < y.vec_id
    JOIN s2 ON s2.bucket = x.bucket AND s2.st1 = x.st1 AND s2.st2 = x.st2
    WHERE s2.sc2 <= {_ED_CAP}
    UNION ALL
    -- bottom: still-hot level-2 leftovers chain to the group's min-id rep
    SELECT least(bh2.vec_id, s2.sid), greatest(bh2.vec_id, s2.sid),
           CASE WHEN bh2.vec_id < s2.sid THEN bh2.q ELSE s2.sq END,
           CASE WHEN bh2.vec_id < s2.sid THEN s2.sq ELSE bh2.q END
    FROM bh2 JOIN s2 USING (bucket, st1, st2)
    WHERE s2.sc2 > {_ED_CAP} AND bh2.vec_id <> s2.sid
    UNION ALL
    -- bottom: leftover group reps chain to the bucket's min-id end
    SELECT least(sid, lo_id), greatest(sid, lo_id),
           CASE WHEN sid < lo_id THEN sq ELSE lo_q END,
           CASE WHEN sid < lo_id THEN lo_q ELSE sq END
    FROM s2 WHERE sc2 > {_ED_CAP} AND sid <> lo_id
  )
)
SELECT id_a, id_b, {_duck_cosine('qa', 'qb')} AS cosine
FROM cd WHERE {_duck_cosine('qa', 'qb')} >= {_ED_THRESH}
"""

# --- dp6 brute-force cosine top-k ----------------------------------------

_TK_PROBES, _TK_K = 8, 5

def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < _TK_PROBES)
    return similarity.cosine_topk(emb, probes, "vec_id", "embedding", k=_TK_K)

SQL_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id, {_DUCK_Q} AS q FROM embeddings),
s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, {_duck_cosine('p.q', 'c.q')} AS cosine
  FROM q p JOIN q c ON p.vec_id < {_TK_PROBES} AND p.vec_id <> c.vec_id
)
SELECT probe_id, neighbor_id, cosine, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {_TK_K}
"""

# --- dp6b Arrow-vectorized brute-force top-k (same oracle as dp6) ---------

def q_cosine_topk_batch(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < _TK_PROBES)
    return similarity.cosine_topk_batch(emb, probes, "vec_id", "embedding", k=_TK_K)


# --- dp7 LSH-bucketed ANN top-k ------------------------------------------

_ANN_PLANES = 6

def q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < _TK_PROBES)
    return similarity.ann_topk_lsh(
        emb, probes, "vec_id", "embedding", k=_TK_K, n_planes=_ANN_PLANES
    )

SQL_ANN_LSH = f"""
WITH q AS (SELECT vec_id, {_DUCK_Q} AS q FROM embeddings),
b AS (SELECT vec_id, q, {_duck_bucket('q', _ANN_PLANES)} AS bucket FROM q),
s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, {_duck_cosine('p.q', 'c.q')} AS cosine
  FROM b p JOIN b c ON p.vec_id < {_TK_PROBES} AND p.bucket = c.bucket AND p.vec_id <> c.vec_id
)
SELECT probe_id, neighbor_id, cosine, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {_TK_K}
"""

# --- dp8 language ID ------------------------------------------------------

def _duck_pred_lang(text_col: str = "text") -> str:
    """The lang-ID stopword-hits CASE expression, built ONCE from
    LANG_STOPWORDS — shared by every oracle that predicts a language so
    tie precedence / hit semantics can never diverge between oracles."""
    toks = duck_tokens(text_col)
    hits = {
        lang: f"len(list_filter({toks}, t -> t IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in textstats.LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    return "CASE " + " ".join(
        f"WHEN {h} = {best} AND {best} > 0 THEN '{lang}'" for lang, h in hits.items()
    ) + " ELSE 'und' END"

# --- dp9 quality scoring --------------------------------------------------

_EN_STOPS = ", ".join(repr(w) for w in textstats.LANG_STOPWORDS["en"])

# --- dp11 document fingerprinting ----------------------------------------

_FP_N, _FP_MOD = 5, 1 << 20

def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    fp = textstats.fingerprint(docs, "doc_id", "text", shingle_n=_FP_N, mod=_FP_MOD)
    return fp.join(docs.select("doc_id", "source"), "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).alias("ct"), F.countDistinct("fingerprint").alias("fp_ct")
    )

SQL_FINGERPRINT = f"""
WITH d AS (
  SELECT doc_id, source, {duck_tokens('text')} AS toks FROM documents
), f AS (
  SELECT doc_id, source,
         coalesce(list_min(list_transform({duck_shingles('toks', _FP_N)},
                                          s -> {duck_phash('s')} % {_FP_MOD})), -1) AS fingerprint
  FROM d
)
SELECT source, count(*)::BIGINT AS ct, count(DISTINCT fingerprint)::BIGINT AS fp_ct
FROM f GROUP BY 1
"""

# --- dp12 multimodal column plumbing -------------------------------------

def q_multimodal(spark: SparkSession, sf: str) -> DataFrame:
    """Three branches against ONE oracle:

    - ``fake``: byte-level features over opaque payloads (the original
      contract mode — batch shape without codec cost).
    - ``png``:  the documents encoded as REAL 8-bit grayscale PNGs
      (zlib-deflated, scanline filter rotating over all five types) and
      decoded back by the stdlib decoder — inflate + unfilter. The
      decoded pixel sums equal the text byte sums ONLY if the whole
      round-trip is correct, so DuckDB checks a real zlib/PNG decode
      with plain SQL over the text column.
    - ``wav``:  same documents as PCM-16 RIFF/WAVE files, decoded back
      by struct parsing; decoded sample sums == byte sums, and the wav
      container size is closed-form (44 + 2n) so total_bytes is checked
      too (PNG's deflated size is not SQL-computable -> pinned 0).
    - ``y4m``:  same documents as uncompressed YUV4MPEG2 video — text
      bytes chunked into 8x8 Cmono luma frames — demuxed back by the
      stdlib Y4M decoder; decoded frame-byte sums == byte sums, and the
      container size is closed-form (36-byte header + 70 per frame) so
      total_bytes checks the frame count too.
    """
    docs = load_table(spark, sf, "documents")
    media = multimodal.to_media_table(docs, "doc_id", "text", "source")

    def roll(feats, branch, with_bytes):
        return feats.groupBy("source").agg(
            F.count(F.lit(1)).alias("ct"),
            (F.sum("n_bytes") if with_bytes else F.lit(0)).cast("long").alias("total_bytes"),
            F.sum("feat_sum").alias("feat_total"),
            F.min("feat_head").alias("head_min"),
        ).select(F.lit(branch).alias("branch"), "source", "ct",
                 "total_bytes", "feat_total", "head_min")

    fake = roll(multimodal.extract_features(media, fake=True), "fake", True)
    png = roll(
        multimodal.extract_features(
            multimodal.to_png_media(docs, "doc_id", "text", "source"), fake=False
        ),
        "png", False,
    )
    wav = roll(
        multimodal.extract_features(
            multimodal.to_wav_media(docs, "doc_id", "text", "source"), fake=False
        ),
        "wav", True,
    )
    y4m = roll(
        multimodal.extract_features(
            multimodal.to_y4m_media(docs, "doc_id", "text", "source"), fake=False
        ),
        "y4m", True,
    )
    return fake.unionByName(png).unionByName(wav).unionByName(y4m)

SQL_MULTIMODAL = """
WITH f AS (
  SELECT source,
         octet_length(text::BLOB)::BIGINT AS n_bytes,
         list_sum(list_transform(range(1, length(text) + 1), i -> ascii(text[i])))::BIGINT AS feat_sum,
         (ascii(text[1]) * 16777216 + ascii(text[2]) * 65536
          + ascii(text[3]) * 256 + ascii(text[4]))::BIGINT AS feat_head
  FROM documents
), g AS (
  SELECT source, count(*)::BIGINT AS ct, sum(n_bytes)::BIGINT AS raw_bytes,
         sum(feat_sum)::BIGINT AS feat_total, min(feat_head)::BIGINT AS head_min,
         sum(greatest(1, cast(ceil(n_bytes / 64.0) AS BIGINT)))::BIGINT AS y4m_frames
  FROM f GROUP BY 1
)
SELECT 'fake' AS branch, source, ct, raw_bytes AS total_bytes, feat_total, head_min FROM g
UNION ALL
SELECT 'png', source, ct, 0::BIGINT, feat_total, head_min FROM g
UNION ALL
-- PCM-16 RIFF container: 44 header bytes + 2 bytes per sample (= per text byte)
SELECT 'wav', source, ct, (ct * 44 + raw_bytes * 2)::BIGINT, feat_total, head_min FROM g
UNION ALL
-- Y4M container: 36-byte stream header + 70 bytes (FRAME marker + 8x8 luma) per frame
SELECT 'y4m', source, ct, (ct * 36 + 70 * y4m_frames)::BIGINT, feat_total, head_min FROM g
"""

# --- dp13 IVF-bucketed ANN top-k (coarse quantizer = label cells) ---------

_IVF_NPROBE = 2

def q_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < _TK_PROBES)
    return similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "label", k=_TK_K, n_probe=_IVF_NPROBE
    )

SQL_IVF = f"""
WITH q AS (SELECT vec_id, label, {_DUCK_Q} AS q FROM embeddings),
gs AS (SELECT unnest(generate_series(1, (SELECT max(len(q)) FROM q))) AS i),
pos AS (
  SELECT label AS cell, gs.i AS pos, q.q[gs.i] AS qv FROM q CROSS JOIN gs
),
cent AS (
  SELECT cell, list(s ORDER BY pos) AS cvec
  FROM (SELECT cell, pos, sum(qv) AS s FROM pos GROUP BY 1, 2) GROUP BY 1
),
pc AS (
  SELECT p.vec_id AS probe_id, p.q AS qp, c.cell,
         row_number() OVER (
           PARTITION BY p.vec_id
           ORDER BY {_duck_cosine('p.q', 'c.cvec')} DESC, c.cell
         ) AS crank
  FROM q p CROSS JOIN cent c WHERE p.vec_id < {_TK_PROBES}
),
s AS (
  SELECT pc.probe_id, c.vec_id AS neighbor_id, {_duck_cosine('pc.qp', 'c.q')} AS cosine
  FROM pc JOIN q c ON c.label = pc.cell AND c.vec_id <> pc.probe_id
  WHERE pc.crank <= {_IVF_NPROBE}
)
SELECT probe_id, neighbor_id, cosine, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {_TK_K}
"""


# --- dp15 PII redaction ---------------------------------------------------

def _docs_with_pii(spark, sf):
    """Plant deterministic emails+phones on doc_id % 13 == 0 (same
    transformation in the oracle) so the scrub has real positives."""
    docs = load_table(spark, sf, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-1234"),
    )
    return docs.withColumn(
        "text", F.when(F.col("doc_id") % 13 == 0, pii).otherwise(F.col("text"))
    )

def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    r = textstats.pii_redact(_docs_with_pii(spark, sf), "text")
    return r.filter((F.col("n_emails") + F.col("n_phones")) > 0).select(
        "doc_id", "n_emails", "n_phones", F.length("clean_text").alias("clean_len")
    )

SQL_PII = f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0
              THEN text || ' reach user' || doc_id || '@mail.example.com or +1-555-'
                   || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-1234'
              ELSE text END AS text
  FROM documents
),
r AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{textstats.PII_EMAIL}'))::INT AS n_emails,
         len(regexp_extract_all(text, '{textstats.PII_PHONE}'))::INT AS n_phones,
         length(regexp_replace(regexp_replace(text, '{textstats.PII_EMAIL}', '[EMAIL]', 'g'),
                               '{textstats.PII_PHONE}', '[PHONE]', 'g'))::INT AS clean_len
  FROM a
)
SELECT doc_id, n_emails, n_phones, clean_len FROM r WHERE n_emails + n_phones > 0
"""

# --- dp15b line-level corpus dedup (C4 cleaning rule) ---------------------
# The synthetic corpus is single-line word soup, so the GATE first builds
# multi-line docs by chunking each text into 10-word lines (done
# identically on both sides); the operator itself is the general
# newline-split form. Duplicate texts in the corpus (dp1 finds them) then
# share every line, so later copies dedup down to empty.

_LD_WPL = 10  # words per synthetic line

def q_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), textstats.WS_RE)
    nl = F.greatest(F.ceil(F.size(toks) / _LD_WPL).cast("int"), F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * _LD_WPL + 1, _LD_WPL)),
    )
    multi = docs.withColumn("text", F.concat_ws("\n", lines))
    out = textdedup.line_dedup(multi, "doc_id", "text")
    return out.select(
        "doc_id", "n_kept", F.col("n_lines").cast("long").alias("n_lines"),
        F.length("text").cast("long").alias("new_len"),
    )

SQL_LINE_DEDUP = f"""
WITH src AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(0, greatest(cast(ceil(len(toks) / {_LD_WPL}.0) AS INT), 1)),
                          i -> array_to_string(toks[i*{_LD_WPL}+1 : i*{_LD_WPL}+{_LD_WPL}], ' ')),
           chr(10)) AS text
  FROM (SELECT doc_id, string_split_regex(text, '{textstats.WS_RE}') AS toks FROM documents)
), l AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
  FROM src
), k AS (
  SELECT doc_id, pos, line, lower(trim(line)) AS norm,
         row_number() OVER (PARTITION BY lower(trim(line)) ORDER BY doc_id, pos) AS rn
  FROM l
), kept AS (
  SELECT doc_id, pos, line FROM k WHERE rn = 1 OR norm = ''
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         length(string_agg(line, chr(10) ORDER BY pos)) AS new_len
  FROM kept GROUP BY 1
), nlc AS (
  SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM src
)
SELECT nlc.doc_id, coalesce(n_kept, 0)::BIGINT AS n_kept, n_lines::BIGINT AS n_lines,
       coalesce(new_len, 0)::BIGINT AS new_len
FROM nlc LEFT JOIN agg ON nlc.doc_id = agg.doc_id
"""

# --- dp15c repeated token spans (substring-level dedup) -------------------
# The synthetic corpus is word soup, so cross-doc spans beyond exact
# duplicates barely occur naturally; the gate plants a shared boilerplate
# tail on every 7th doc (identically on both sides) so the detector sees
# cross-document repeats, within-doc structure, AND the corpus's exact
# duplicate texts.

_SPAN_W = 8
_SPAN_BOILER = (
    "subscribe to our newsletter for updates terms of service apply all rights reserved"
)


def q_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" " + _SPAN_BOILER))
        ).otherwise(F.col("text")),
    )
    out = textdedup.repeated_spans(planted, "doc_id", "text", window_n=_SPAN_W)
    return out.filter(F.col("dup_windows") > 0).select(
        "doc_id", "dup_windows", F.col("n_windows").cast("long").alias("n_windows"),
        "dup_coverage",
    )


def _sql_span_dedup(w: int = _SPAN_W) -> str:
    return f"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' {_SPAN_BOILER}' ELSE text END AS text
  FROM documents
), tk AS (
  SELECT doc_id, {duck_tokens('text')} AS toks FROM src
), base AS (
  SELECT doc_id, len(toks) AS n_tokens,
         greatest(len(toks) - {w} + 1, 0) AS n_windows
  FROM tk
), sh AS (
  SELECT doc_id, {duck_hash_shingles_wide(duck_token_hashes('toks'), w)} AS whs
  FROM tk WHERE len(toks) >= {w}
), occ AS (
  SELECT doc_id, unnest(range(0, len(whs))) AS pos, unnest(whs) AS wh FROM sh
), marked AS (
  SELECT doc_id, pos, pos + {w} AS e,
         row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
  FROM occ
), dup AS (
  SELECT doc_id, pos, e FROM marked WHERE rn > 1
), isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                   OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS ni
  FROM dup
), isl2 AS (
  SELECT doc_id, pos, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl
), cov AS (
  SELECT doc_id, island, max(e) - min(pos) AS c, count(*) AS wct
  FROM isl2 GROUP BY 1, 2
), pd AS (
  SELECT doc_id, sum(wct)::BIGINT AS dup_windows, sum(c)::BIGINT AS dup_coverage
  FROM cov GROUP BY 1
)
SELECT base.doc_id, dup_windows, n_windows::BIGINT AS n_windows, dup_coverage
FROM base JOIN pd ON base.doc_id = pd.doc_id
WHERE dup_windows > 0
"""


SQL_SPAN_DEDUP = _sql_span_dedup()


def q_span_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of ``q_span_dedup`` (previously pytest-only): the
    same planted corpus replayed as id-ordered micro-batches through
    ``SpanStateDedupSink`` (window-hash -> canonical (min id, pos) state,
    first-arrival-wins). Under id-ordered replay the accumulated flags
    equal batch ``repeated_spans`` exactly for any split
    (streaming/neardup.py contract), so the oracle is the same
    SQL_SPAN_DEDUP recomputation."""
    from flinkrealtimedatawarehouse_spark.streaming import neardup, runner

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" " + _SPAN_BOILER))
        ).otherwise(F.col("text")),
    )
    in_dir = runner.stage_stream_dir(planted, "doc_id", 4, "dp15sp")
    sdf = runner.parquet_stream(spark, in_dir, planted.schema)
    sink = neardup.SpanStateDedupSink(
        runner.scratch_dir("sp_dp15"), "doc_id", "text", window_n=_SPAN_W
    )
    sink.init(spark)
    runner.run_foreach_batch(sdf, sink.write_batch, "dp15sp")
    return sink.flags(spark).filter(F.col("dup_windows") > 0).select(
        "doc_id", "dup_windows", F.col("n_windows").cast("long").alias("n_windows"),
        "dup_coverage",
    )


# dp15 combined gate (tagged): PII redaction + line-level corpus dedup +
# repeated-span substring dedup (batch + streaming) — the text-cleaning
# transforms in one entry.
def q_dp15c(spark: SparkSession, sf: str) -> DataFrame:
    pii = q_pii_redact(spark, sf).select(
        F.lit("pii").alias("branch"), "doc_id",
        F.col("n_emails").cast("long").alias("v1"),
        F.col("n_phones").cast("long").alias("v2"),
        F.col("clean_len").cast("long").alias("v3"),
    )
    ld = q_line_dedup(spark, sf).select(
        F.lit("linededup").alias("branch"), "doc_id",
        F.col("n_kept").cast("long").alias("v1"),
        F.col("n_lines").alias("v2"), F.col("new_len").alias("v3"),
    )
    sp = q_span_dedup(spark, sf).select(
        F.lit("spandedup").alias("branch"), "doc_id",
        F.col("dup_windows").alias("v1"),
        F.col("n_windows").alias("v2"),
        F.col("dup_coverage").alias("v3"),
    )
    sps = q_span_stream(spark, sf).select(
        F.lit("spanstream").alias("branch"), "doc_id",
        F.col("dup_windows").alias("v1"),
        F.col("n_windows").alias("v2"),
        F.col("dup_coverage").alias("v3"),
    )
    return pii.unionByName(ld).unionByName(sp).unionByName(sps)

SQL_DP15C = f"""
SELECT 'pii' AS branch, doc_id, n_emails::BIGINT AS v1, n_phones::BIGINT AS v2,
       clean_len::BIGINT AS v3 FROM ({SQL_PII})
UNION ALL
SELECT 'linededup', doc_id, n_kept, n_lines, new_len FROM ({SQL_LINE_DEDUP})
UNION ALL
SELECT 'spandedup', doc_id, dup_windows, n_windows, dup_coverage FROM ({SQL_SPAN_DEDUP})
UNION ALL
SELECT 'spanstream', doc_id, dup_windows, n_windows, dup_coverage FROM ({SQL_SPAN_DEDUP})
"""

# --- dp16 corpus-level top-k n-grams --------------------------------------

_NG_N, _NG_K = 2, 20

def q_corpus_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.corpus_ngrams(load_table(spark, sf, "documents"), "text", _NG_N, _NG_K)

SQL_CORPUS_NGRAMS = f"""
WITH tk AS (SELECT {duck_tokens('text')} AS toks FROM documents),
ex AS (SELECT unnest({duck_shingles('toks', _NG_N)}) AS gram FROM tk)
SELECT gram, count(*)::BIGINT AS ct FROM ex
GROUP BY 1 ORDER BY ct DESC, gram LIMIT {_NG_K}
"""


# --- dp18 benchmark decontamination ---------------------------------------

_DC_N = 3

def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc n-gram overlap against a 'benchmark' set = every
    doc_id % 17 == 0 document (verbatim -> overlap 1.0 for those ids,
    partial overlap only via shared grams elsewhere). Returns docs with
    any overlap."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    out = textdedup.ngram_overlap(docs, bench, "doc_id", "text", n=_DC_N)
    # filter on the raw hit count, not the 6-dp rounded ratio — a huge doc
    # with one hit rounds to 0.0 but must still be flagged (oracle agrees)
    return out.filter(F.col("n_hit") > 0).drop("n_hit")

def _sql_decontaminate() -> str:
    toks = duck_tokens("text")
    return f"""
WITH tk AS (
  SELECT doc_id, {duck_token_hashes(toks)} AS th FROM documents
),
g AS (
  SELECT doc_id, unnest(list_distinct({duck_hash_shingles_wide('th', _DC_N)})) AS g
  FROM tk WHERE len(th) >= {_DC_N}
),
bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 17 = 0),
tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
hit AS (SELECT doc_id, count(*) AS n_hit FROM g JOIN bg USING (g) GROUP BY 1)
SELECT tot.doc_id, n_grams::BIGINT AS n_grams,
       round(coalesce(n_hit, 0)::DOUBLE / n_grams, 6) AS overlap
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
WHERE coalesce(n_hit, 0) > 0
"""

SQL_DECONTAMINATE = _sql_decontaminate()

# --- dp19 dedup cluster assignment (connected components) -----------------

def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """dp19 tagged union: canonical-id assignment over the LSH near-dup
    graph, batch AND streamed.

    - ``batch``: connected components by min-label propagation
      (``textdedup.dedup_clusters``) over the full pair set; emits only
      multi-member clusters (the dedup work list).
    - ``stream``: the SAME pairs replayed as id-ordered micro-batches
      through ``ClusterUpkeepSink`` (incremental CC by contraction,
      streaming/clusters.py). The sink's final label table must equal
      the batch run for any split — both branches are hash-verified
      against one recursive-CTE DuckDB twin, so the incremental
      contraction algebra is oracle-checked at every driver scale."""
    from flinkrealtimedatawarehouse_spark.streaming import clusters as sclusters
    from flinkrealtimedatawarehouse_spark.streaming.runner import scratch_dir

    docs = _docs_with_near_dups(spark, sf)
    pairs = textdedup.minhash_near_dups(
        docs, "doc_id", "text", _MH_N, _MH_K, _MH_BANDS, _MH_THRESH
    ).select("id_a", "id_b").localCheckpoint(eager=True)  # one compute, two consumers
    labels = textdedup.dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    batch_br = labels.filter(F.col("cluster") != F.col("doc_id")).select(
        F.lit("batch").alias("branch"), "doc_id", "cluster"
    )
    sink = sclusters.stream_cluster_upkeep(
        pairs, "doc_id", scratch_dir("dp19s"), n_batches=3, tag="dp19s"
    )
    stream_br = (
        sink.clusters(spark)
        .filter(F.col("cluster") != F.col("doc_id"))
        .select(F.lit("stream").alias("branch"), "doc_id", "cluster")
    )
    return batch_br.unionByName(stream_br).orderBy("branch", "doc_id")

_SQL_CC_CORE = f"""
WITH {_sql_sigs_cte()},
bd AS (
  SELECT doc_id, bi.band_idx,
         concat_ws('_', sig[2 * bi.band_idx + 1], sig[2 * bi.band_idx + 2]) AS band_key
  FROM ms CROSS JOIN (SELECT unnest(generate_series(0, {_MH_BANDS - 1})) AS band_idx) bi
),
cd AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bd a JOIN bd b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
jv AS (
  SELECT id_a, id_b,
         round(len(list_intersect(x.shingles, y.shingles))::DOUBLE /
               len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
  FROM cd JOIN ms x ON x.doc_id = id_a JOIN ms y ON y.doc_id = id_b
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM jv WHERE jaccard >= {_MH_THRESH}
  UNION SELECT id_b, id_a FROM jv WHERE jaccard >= {_MH_THRESH}
),
rc AS (
  WITH RECURSIVE reach(node, r) AS (
    SELECT DISTINCT src, src FROM e
    UNION
    SELECT reach.node, e.dst FROM reach JOIN e ON e.src = reach.r
  )
  SELECT node, min(r) AS cluster FROM reach GROUP BY 1
)
SELECT node AS doc_id, cluster FROM rc WHERE cluster <> node
"""

# batch + stream branches are DEFINED to agree (the sink invariant), so
# one CC computation twins both
SQL_DEDUP_CLUSTERS = f"""
SELECT 'batch' AS branch, * FROM ({_SQL_CC_CORE})
UNION ALL
SELECT 'stream' AS branch, * FROM ({_SQL_CC_CORE})
"""

# --- dp20 training-mix sampling -------------------------------------------

_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}

def _duck_mix_conds() -> str:
    """The mix-sampling keep predicate of the composed mix->pack oracle,
    built from the same _MIX_RATES the Spark side samples with so the
    hash bucket modulus / rate rounding can never diverge."""
    bucket = f"{duck_phash('doc_id::VARCHAR')} % 10000"
    return " OR ".join(
        f"(source = '{s}' AND {bucket} < {int(round(r * 10000))})"
        for s, r in _MIX_RATES.items()
    )

# --- dp21 token-budget sequence packing -----------------------------------

_PACK_BUDGET = 4096

def _duck_pack_sql(src: str) -> str:
    """The pack-bins cumulative-sum/bin SQL over any source relation
    (the composed mix->pack oracle's ``pack`` branch)."""
    return f"""
WITH c AS (
  SELECT source, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM {src}
)
SELECT source, floor((cum - n_chars) / {_PACK_BUDGET})::BIGINT AS bin,
       count(*)::BIGINT AS doc_ct, sum(n_chars)::BIGINT AS tok_sum
FROM c GROUP BY 1, 2
"""


# --- dp23 corpus length quantiles -----------------------------------------

def q_length_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.length_quantiles(
        load_table(spark, sf, "documents"), "source", "n_chars"
    )

SQL_LENGTH_QUANTILES = """
SELECT source, count(*)::BIGINT AS ct,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.9) AS p90,
       quantile_cont(n_chars, 0.99) AS p99
FROM documents GROUP BY 1
"""

# --- dp24 top-k-per-group curation ----------------------------------------

_CUR_K = 5

def q_topk_quality(spark: SparkSession, sf: str) -> DataFrame:
    scored = textstats.quality_score(load_table(spark, sf, "documents"), "text")
    top = textstats.topk_per_group(scored, "source", "quality", "doc_id", _CUR_K)
    return top.select("source", "rank", "doc_id", "quality")

SQL_TOPK_QUALITY = f"""
WITH d AS (
  SELECT doc_id, source,
         {duck_tokens('text')} AS toks,
         length(text) AS n_chars,
         length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS alnum
  FROM documents
), m AS (
  SELECT doc_id, source, len(toks) AS n_tokens,
         CASE WHEN n_chars > 0 THEN alnum::DOUBLE / n_chars ELSE 0.0 END AS alnum_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> t IN ({_EN_STOPS})))::DOUBLE / len(toks)
              ELSE 0.0 END AS stop_ratio
  FROM d
), s AS (
  SELECT doc_id, source,
         round(0.4 * least(n_tokens::DOUBLE / 100.0, 1.0)
             + 0.3 * alnum_ratio
             + 0.3 * least(stop_ratio * 5.0, 1.0), 6) AS quality
  FROM m
)
SELECT source, rank::INT AS rank, doc_id, quality FROM (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank
  FROM s
) WHERE rank <= {_CUR_K}
"""


# --- merged gate entries (the driver records only 50 queries total) ------

# dp3+dp4+dp5: the three non-MinHash near-dup detectors, one tagged entry.
def q_neardup_family(spark: SparkSession, sf: str) -> DataFrame:
    sim = q_simhash(spark, sf).select(
        F.lit("simhash").alias("method"), "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    jac = q_ngram_jaccard(spark, sf).select(
        F.lit("jaccard").alias("method"), "id_a", "id_b", F.col("jaccard").alias("score")
    )
    emb = q_embedding_neardup(spark, sf).select(
        F.lit("cosine").alias("method"), "id_a", "id_b", F.col("cosine").alias("score")
    )
    return sim.unionByName(jac).unionByName(emb)

SQL_NEARDUP_FAMILY = f"""
SELECT 'simhash' AS method, id_a, id_b, hamming::DOUBLE AS score FROM ({SQL_SIMHASH})
UNION ALL
SELECT 'jaccard', id_a, id_b, jaccard FROM ({SQL_NGRAM_JACCARD})
UNION ALL
SELECT 'cosine', id_a, id_b, cosine FROM ({SQL_EMBEDDING_NEARDUP})
"""

# dp6+dp17: exact cosine top-k on both execution paths (JVM higher-order
# functions vs Arrow-batched numpy) — one entry also proves path agreement.
def q_cosine_topk_both(spark: SparkSession, sf: str) -> DataFrame:
    hof = q_cosine_topk(spark, sf).withColumn("method", F.lit("hof"))
    arr = q_cosine_topk_batch(spark, sf).withColumn("method", F.lit("arrow"))
    return hof.unionByName(arr)

SQL_COSINE_TOPK_BOTH = f"""
SELECT *, 'hof' AS method FROM ({SQL_COSINE_TOPK})
UNION ALL
SELECT *, 'arrow' AS method FROM ({SQL_COSINE_TOPK})
"""

# dp7+dp13: both bucketed ANN paths (random-hyperplane LSH vs IVF cells).
# dp7 mlsh branch: multi-table LSH (ann_topk_multilsh) — L independent
# hyperplane families, candidates = bucket match in ANY table (union +
# dedup = OR of per-table bucket equality), exact cosine re-rank. The
# recall lever SCALE.md's ANN-RECALL sweep measures.
_MLSH_TABLES = 3

def q_ann_mlsh(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < _TK_PROBES)
    return similarity.ann_topk_multilsh(
        emb, probes, "vec_id", "embedding", k=_TK_K,
        n_planes=_ANN_PLANES, n_tables=_MLSH_TABLES,
    )

def _sql_ann_mlsh() -> str:
    any_table = " OR ".join(
        f"{_duck_bucket('p.q', _ANN_PLANES, t * _ANN_PLANES)}"
        f" = {_duck_bucket('c.q', _ANN_PLANES, t * _ANN_PLANES)}"
        for t in range(_MLSH_TABLES)
    )
    return f"""
WITH q AS (SELECT vec_id, {_DUCK_Q} AS q FROM embeddings),
s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         {_duck_cosine('p.q', 'c.q')} AS cosine
  FROM q p JOIN q c
    ON p.vec_id < {_TK_PROBES} AND p.vec_id <> c.vec_id AND ({any_table})
)
SELECT probe_id, neighbor_id, cosine, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {_TK_K}
"""

SQL_ANN_MLSH = _sql_ann_mlsh()


_IVFIDX_BUILT: dict[str, object] = {}  # sf dir -> streamed IVF index sink


def q_ann_both(spark: SparkSession, sf: str) -> DataFrame:
    lsh = q_ann_lsh(spark, sf).withColumn("method", F.lit("lsh"))
    mlsh = q_ann_mlsh(spark, sf).withColumn("method", F.lit("mlsh"))
    ivf = q_ivf_topk(spark, sf).withColumn("method", F.lit("ivf"))
    # sivf branch: the SAME IVF search answered by the stream-maintained
    # persisted index (simsearch.stream_ivf_upkeep — vectors ingested in
    # micro-batches, centroid component sums folded additively; integer
    # sums are associative, so the maintained centroids are bit-equal to
    # a batch rebuild). DuckDB twin = the same SQL_IVF recomputation from
    # the raw embeddings table. Memoized per (process, sf) like
    # _POSTIDX_BUILT, existence-checked on the sink's corpus dir.
    from flinkrealtimedatawarehouse_spark.streaming import simsearch
    from flinkrealtimedatawarehouse_spark.streaming.runner import scratch_dir

    sink = _IVFIDX_BUILT.get(sf)
    if sink is not None and not os.path.isdir(os.path.join(sink.out_dir, "corpus")):
        sink = None
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < _TK_PROBES)
    if sink is None:
        sink = simsearch.stream_ivf_upkeep(
            emb, "vec_id", "embedding", "label", scratch_dir("ivfidx")
        )
        _IVFIDX_BUILT[sf] = sink
    sivf = simsearch.streamed_ivf_topk(
        spark, sink, probes, k=_TK_K, n_probe=_IVF_NPROBE
    ).withColumn("method", F.lit("sivf"))
    return lsh.unionByName(mlsh).unionByName(ivf).unionByName(sivf)

SQL_ANN_BOTH = f"""
SELECT *, 'lsh' AS method FROM ({SQL_ANN_LSH})
UNION ALL
SELECT *, 'mlsh' AS method FROM ({SQL_ANN_MLSH})
UNION ALL
SELECT *, 'ivf' AS method FROM ({SQL_IVF})
UNION ALL
SELECT *, 'sivf' AS method FROM ({SQL_IVF})
"""

# dp8+dp9+dp10+dp14: per-document text-analysis metrics over a sampled
# doc set (repetition signals, lang ID, quality, token counts, Gopher
# rules) — one driver gate PER OPERATOR BRANCH (dp8a-dp8e) so the
# driver's own pass/fail vector localizes any engine divergence to the
# operator that caused it (the wide single-gate form was driver-red for
# three rounds with rows+schema green, which one boolean can't debug).
#
# Gate-stability contract (round-5 de-float + round-6 hardening):
# - NO floating point anywhere in any gate surface: every fractional
#   metric is exact integer micros, (num * 1_000_000) floor-div den —
#   Spark `div`, DuckDB `//`.
# - NO cross-engine integer-width wobble: every DuckDB aggregate that
#   widens (list_sum -> HUGEINT, which pandas/arrow clients render as
#   float64, e.g. "44.0" vs Spark's "44") is explicitly ::BIGINT. This
#   was the r3-r5 dp8 red: bpe_est_tokens was the registry's only
#   uncast HUGEINT output column.
# - NO `\s`, no `$` anchors, no multi-byte regex classes in either
#   engine: whitespace is the explicit textstats.WS_RE class, bullets
#   are substring-equality tests, ellipsis is ends_with — constructs
#   whose semantics can't drift between Java-regex and RE2 versions.
# Output stays pinned to doc_id order (unique key, no ties).

_DOC_SAMPLE_MOD = 25


def _doc_sample(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "documents").filter(
        F.col("doc_id") % _DOC_SAMPLE_MOD == 0
    )


_SQL_DOC_SAMPLE = f"SELECT * FROM documents WHERE doc_id % {_DOC_SAMPLE_MOD} = 0"


def _idiv_micros(num: str, den: str, alias: str, scale: int = 1_000_000) -> Column:
    """(num * scale) div den as exact long arithmetic, 0 when den = 0 —
    spelled identically to the oracle's (num * scale) // den."""
    return F.expr(
        f"CASE WHEN {den} > 0 THEN ({num} * {scale}L) div {den} ELSE 0L END"
    ).alias(alias)


# --- dp8a repetition signals (textstats.repetition_stats) ----------------

def q_dp8a_repetition(spark: SparkSession, sf: str) -> DataFrame:
    rep = textstats.repetition_stats(_doc_sample(spark, sf), "doc_id", "text")
    return rep.select(
        "doc_id",
        "n_tokens",
        _idiv_micros("n_distinct", "n_tokens", "ttr_u"),
        _idiv_micros("top_bg_ct * 2", "n_tokens", "top_bigram_frac_u"),
    ).orderBy("doc_id")


def _sql_dp8a() -> str:
    toks = duck_tokens("text")
    return f"""
WITH a AS ({_SQL_DOC_SAMPLE}),
tk AS (SELECT doc_id, {toks} AS toks FROM a),
f AS (
  SELECT doc_id, toks, len(toks)::INT AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         {duck_shingles('toks', 2)} AS bigrams
  FROM tk WHERE len(toks) > 0
),
ex AS (SELECT doc_id, unnest(bigrams) AS bg FROM f),
ctb AS (SELECT doc_id, bg, count(*) AS ct FROM ex GROUP BY 1, 2),
tp AS (SELECT doc_id, max(ct) AS top_bg_ct FROM ctb GROUP BY 1)
SELECT f.doc_id, f.n_tokens,
       (f.n_distinct::BIGINT * 1000000) // f.n_tokens AS ttr_u,
       (coalesce(tp.top_bg_ct, 0)::BIGINT * 2 * 1000000) // f.n_tokens AS top_bigram_frac_u
FROM f LEFT JOIN tp USING (doc_id) ORDER BY doc_id
"""


SQL_DP8A = _sql_dp8a()

# --- dp8b language ID (textstats.lang_id) --------------------------------

def q_dp8b_lang(spark: SparkSession, sf: str) -> DataFrame:
    return (
        textstats.lang_id(_doc_sample(spark, sf), "text")
        .select("doc_id", "lang", "pred_lang")
        .orderBy("doc_id")
    )


SQL_DP8B = f"""
SELECT doc_id, lang, {_duck_pred_lang()} AS pred_lang
FROM ({_SQL_DOC_SAMPLE}) ORDER BY doc_id
"""

# --- dp8c quality score (textstats.quality_score) ------------------------
# quality score in exact micros: 0.4*min(toks/100,1) -> min(toks,100)*4000,
# 0.3*alnum_ratio -> (alnum*300000) div chars,
# 0.3*min(5*stop_ratio,1) -> (min(5*stops, toks)*300000) div toks.

def q_dp8c_quality(spark: SparkSession, sf: str) -> DataFrame:
    qual = textstats.quality_score(_doc_sample(spark, sf), "text").select(
        "doc_id", F.col("n_tokens").alias("q_toks"), "n_chars", "alnum_chars", "stop_hits"
    )
    quality_u = F.expr(
        "least(q_toks, 100L) * 4000L"
        " + (CASE WHEN n_chars > 0 THEN (alnum_chars * 300000L) div n_chars ELSE 0L END)"
        " + (CASE WHEN q_toks > 0 THEN"
        "      (least(stop_hits * 5L, cast(q_toks AS BIGINT)) * 300000L) div q_toks"
        "    ELSE 0L END)"
    ).alias("quality_u")
    return qual.select(
        "doc_id", quality_u, _idiv_micros("alnum_chars", "n_chars", "alnum_ratio_u")
    ).orderBy("doc_id")


def _sql_dp8c() -> str:
    toks = duck_tokens("text")
    return f"""
WITH a AS ({_SQL_DOC_SAMPLE}),
q2 AS (
  SELECT doc_id, len({toks})::BIGINT AS n_toks,
         length(text)::BIGINT AS n_chars,
         length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))::BIGINT AS alnum,
         len(list_filter({toks}, t -> t IN ({_EN_STOPS})))::BIGINT AS stop_hits
  FROM a
)
SELECT doc_id,
       (least(n_toks, 100) * 4000
        + (CASE WHEN n_chars > 0 THEN (alnum * 300000) // n_chars ELSE 0 END)
        + (CASE WHEN n_toks > 0
                THEN (least(stop_hits * 5, n_toks) * 300000) // n_toks
                ELSE 0 END))::BIGINT AS quality_u,
       (CASE WHEN n_chars > 0 THEN (alnum * 1000000) // n_chars ELSE 0 END)::BIGINT AS alnum_ratio_u
FROM q2 ORDER BY doc_id
"""


SQL_DP8C = _sql_dp8c()

# --- dp8d token counts (textstats.token_counts) --------------------------

def q_dp8d_tokens(spark: SparkSession, sf: str) -> DataFrame:
    tok = textstats.token_counts(_doc_sample(spark, sf), "text")
    return tok.select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        "bpe_est_tokens",
    ).orderBy("doc_id")


def _sql_dp8d() -> str:
    toks = duck_tokens("text")
    # ::BIGINT on the whole bpe expression is load-bearing: list_sum
    # returns HUGEINT, which DataFrame-fetching clients widen to float64
    # ("44.0" vs "44") — the r3-r5 dp8 hash red.
    return f"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '{textstats.WS_RE}'),
                       t -> length(t) > 0))::BIGINT AS ws_tokens,
       (coalesce(list_sum(list_transform({toks}, t -> ceil(length(t) / 4.0)::BIGINT)), 0)
        + length(regexp_replace(lower(text), '{textstats.NON_PUNCT_RE}', '', 'g')))::BIGINT
         AS bpe_est_tokens
FROM ({_SQL_DOC_SAMPLE}) ORDER BY doc_id
"""


SQL_DP8D = _sql_dp8d()

# --- dp8e Gopher rules (textstats.gopher_rules) --------------------------

def q_dp8e_gopher(spark: SparkSession, sf: str) -> DataFrame:
    gop = textstats.gopher_rules(_doc_sample(spark, sf), "text")
    return gop.select(
        "doc_id",
        "g_words",
        _idiv_micros("g_sum_word_len", "g_words", "g_mean_word_len_u"),
        _idiv_micros("g_alpha_words", "g_words", "g_alpha_frac_u"),
        _idiv_micros("g_bullet_lines", "g_lines", "g_bullet_frac_u"),
        _idiv_micros("g_ellipsis_lines", "g_lines", "g_ellipsis_frac_u"),
        "g_stop_kinds",
        F.col("gopher_pass").cast("int").alias("gopher_pass"),
    ).orderBy("doc_id")


def _sql_dp8e() -> str:
    toks = duck_tokens("text")
    stop_kinds = " + ".join(
        f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END"
        for w in textstats.LANG_STOPWORDS["en"]
    )
    bullets = ", ".join(
        "chr(8226)" if ord(c) > 127 else f"'{c}'" for c in textstats.BULLET_CHARS
    )
    return f"""
WITH a AS ({_SQL_DOC_SAMPLE}),
gw AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '{textstats.WS_RE}'),
                     t -> length(t) > 0) AS words,
         list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lns,
         {toks} AS toks
  FROM a
),
gf AS (
  SELECT doc_id,
         len(words)::BIGINT AS g_words,
         coalesce(list_sum(list_transform(words, t -> length(t))), 0)::BIGINT AS g_sum_wl,
         len(list_filter(words, t -> regexp_matches(t, '[A-Za-z]')))::BIGINT AS g_alpha_w,
         len(lns)::BIGINT AS g_lines,
         len(list_filter(lns, l -> substr(trim(l), 1, 1) IN ({bullets})))::BIGINT AS g_bullet_l,
         len(list_filter(lns, l -> ends_with(l, '...')))::BIGINT AS g_ellipsis_l,
         ({stop_kinds})::INT AS g_stop_kinds
  FROM gw
)
SELECT doc_id, g_words,
       (CASE WHEN g_words > 0 THEN (g_sum_wl * 1000000) // g_words ELSE 0 END)::BIGINT AS g_mean_word_len_u,
       (CASE WHEN g_words > 0 THEN (g_alpha_w * 1000000) // g_words ELSE 0 END)::BIGINT AS g_alpha_frac_u,
       (CASE WHEN g_lines > 0 THEN (g_bullet_l * 1000000) // g_lines ELSE 0 END)::BIGINT AS g_bullet_frac_u,
       (CASE WHEN g_lines > 0 THEN (g_ellipsis_l * 1000000) // g_lines ELSE 0 END)::BIGINT AS g_ellipsis_frac_u,
       g_stop_kinds,
       -- thresholds as cross-multiplied integers, exactly mirroring
       -- textstats.gopher_rules: no float comparison anywhere
       (CASE WHEN g_words >= 50 AND g_words <= 100000 AND g_words > 0
              AND g_sum_wl >= 3 * g_words AND g_sum_wl <= 10 * g_words
              AND g_alpha_w * 5 >= g_words * 4
              AND g_bullet_l * 10 <= g_lines * 9
              AND g_ellipsis_l * 10 <= g_lines * 3
              AND g_stop_kinds >= 2
        THEN 1 ELSE 0 END)::INT AS gopher_pass
FROM gf ORDER BY doc_id
"""


SQL_DP8E = _sql_dp8e()

# dp27: text -> deterministic feature-hash embedding (the generation link
# of the vector stack: embed_text output feeds build_ivf_index /
# ivf_index_topk — e2e in tests/test_datapipeline.py). The gate explodes
# the vector to one row per (doc, component) and hashes exact integer
# micros, same stability contract as dp8; the L2 norm is computed from
# INTEGER squared sums on both engines, so there is no
# summation-order float divergence anywhere upstream of the one division.
_EMBED_DIM = 16


def q_embed_text(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") % 25 == 0)
    emb = textstats.embed_text(docs, "doc_id", "text", dim=_EMBED_DIM)
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("dim_idx", "comp"))
        .select(
            "doc_id",
            "dim_idx",
            F.round(F.col("comp") * 1_000_000).cast("long").alias("comp_u"),
        )
        .orderBy("doc_id", "dim_idx")
    )


def _sql_embed_text(dim: int = _EMBED_DIM) -> str:
    toks = duck_tokens("text")
    comps = ", ".join(
        f"coalesce(list_sum(list_transform(th, t -> CASE WHEN t % {dim} = {b} "
        f"THEN 1 - 2 * ((t // {dim}) % 2) ELSE 0 END)), 0)"
        for b in range(dim)
    )
    return f"""
WITH a AS (SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id % 25 = 0),
h AS (SELECT doc_id, {duck_token_hashes('toks')} AS th FROM a),
r AS (SELECT doc_id, [{comps}] AS raw FROM h),
n AS (SELECT doc_id, raw,
             sqrt(list_sum(list_transform(raw, x -> x * x))::DOUBLE) AS nrm
      FROM r)
SELECT doc_id, (gs.i - 1)::INT AS dim_idx,
       CASE WHEN nrm > 0
            THEN CAST(round(round(raw[gs.i] / nrm, 6) * 1000000) AS BIGINT)
            ELSE 0 END AS comp_u
FROM n, generate_series(1, {dim}) AS gs(i)
ORDER BY doc_id, dim_idx
"""


SQL_EMBED_TEXT = _sql_embed_text()

# dp11+dp27 tagged union: the two deterministic doc->hash projections
# (rolling-hash fingerprint rollup, feature-hash embedding components)
# share one gate slot to stay inside the driver's 50-entry recording cap.
# Output pinned to (kind, key, v1, v2) with a stable ORDER BY, the same
# determinism contract as dp8.


def q_fp_embed(spark: SparkSession, sf: str) -> DataFrame:
    fp = q_fingerprint(spark, sf).select(
        F.lit("fp").alias("kind"),
        F.col("source").alias("key"),
        F.col("ct").cast("long").alias("v1"),
        F.col("fp_ct").cast("long").alias("v2"),
    )
    em = q_embed_text(spark, sf).select(
        F.lit("embed").alias("kind"),
        F.concat_ws(":", F.col("doc_id"), F.col("dim_idx")).alias("key"),
        F.col("comp_u").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    return fp.unionByName(em).orderBy("kind", "key")


SQL_FP_EMBED = f"""
SELECT * FROM (
  SELECT 'fp' AS kind, source AS key, ct AS v1, fp_ct AS v2
  FROM ({SQL_FINGERPRINT})
  UNION ALL
  SELECT 'embed', doc_id::VARCHAR || ':' || dim_idx::VARCHAR, comp_u, 0::BIGINT
  FROM ({SQL_EMBED_TEXT})
) ORDER BY kind, key
"""

# dp23+dp24+dp26: the corpus-audit/curation trio, one tagged entry —
# length quantiles per source + top-k-per-group quality culling + chunking
# stats. Columns are aligned to (kind, source, v1..v4) doubles; each
# branch keeps its own oracle shape inside the union.
_CHUNK_SIZE, _CHUNK_OVERLAP = 500, 100

def q_curation(spark: SparkSession, sf: str) -> DataFrame:
    quant = q_length_quantiles(spark, sf).select(
        F.lit("quantiles").alias("kind"), "source",
        F.col("ct").cast("double").alias("v1"), F.col("p50").alias("v2"),
        F.col("p90").alias("v3"), F.col("p99").alias("v4"),
    )
    topk = q_topk_quality(spark, sf).select(
        F.lit("topk").alias("kind"), "source",
        F.col("rank").cast("double").alias("v1"), F.col("doc_id").cast("double").alias("v2"),
        F.col("quality").alias("v3"), F.lit(0.0).alias("v4"),
    )
    docs = load_table(spark, sf, "documents")
    chunks = (
        textstats.chunk_documents(
            docs.select("doc_id", "source", "text"), "doc_id", "text",
            _CHUNK_SIZE, _CHUNK_OVERLAP,
        )
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("double").alias("v1"),
            F.count(F.lit(1)).cast("double").alias("v2"),
            F.round(F.avg("chunk_len"), 6).alias("v3"),
            F.max("chunk_len").cast("double").alias("v4"),
        )
        .select(F.lit("chunks").alias("kind"), "source", "v1", "v2", "v3", "v4")
    )
    lm = (
        textstats.lm_quality(docs, "doc_id", "text")
        .filter(F.col("n_bigrams") > 0)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("double").alias("v1"),
            F.round(F.avg("lm_logprob"), 6).alias("v2"),
            F.round(F.min("lm_logprob"), 6).alias("v3"),
            F.round(F.max("lm_logprob"), 6).alias("v4"),
        )
        .select(F.lit("lm").alias("kind"), "source", "v1", "v2", "v3", "v4")
    )
    return quant.unionByName(topk).unionByName(chunks).unionByName(lm)

SQL_CURATION = f"""
SELECT 'quantiles' AS kind, source, ct::DOUBLE AS v1, p50 AS v2, p90 AS v3, p99 AS v4
FROM ({SQL_LENGTH_QUANTILES})
UNION ALL
SELECT 'topk', source, rank::DOUBLE, doc_id::DOUBLE, quality, 0.0
FROM ({SQL_TOPK_QUALITY})
UNION ALL
SELECT 'chunks', source, count(DISTINCT doc_id)::DOUBLE, count(*)::DOUBLE,
       round(avg(chunk_len), 6), max(chunk_len)::DOUBLE
FROM (
  SELECT source, doc_id,
         length(substr(text, off + 1, {_CHUNK_SIZE})) AS chunk_len
  FROM (
    SELECT source, doc_id, text,
           unnest(range(0, greatest(length(text), 1), {_CHUNK_SIZE - _CHUNK_OVERLAP})) AS off
    FROM documents
  )
) GROUP BY source
UNION ALL
SELECT 'lm', source, count(*)::DOUBLE, round(avg(lm), 6), round(min(lm), 6), round(max(lm), 6)
FROM (
  WITH tkq AS (SELECT doc_id, {duck_tokens('text')} AS t FROM documents),
  uniq AS (
    SELECT w, count(*)::BIGINT AS c1
    FROM (SELECT unnest(t) AS w FROM tkq) GROUP BY 1
  ),
  vq AS (SELECT count(*) AS v FROM uniq),
  gq AS (
    SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM (
      SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS bg
      FROM tkq WHERE len(t) >= 2
    )
  ),
  biq AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM gq GROUP BY 1, 2)
  SELECT gq.doc_id,
         round(avg(ln((biq.c2 + 1)::DOUBLE / (uniq.c1 + vq.v)::DOUBLE)), 6) AS lm
  FROM gq
  JOIN biq USING (w1, w2)
  JOIN uniq ON uniq.w = gq.w1
  CROSS JOIN vq
  GROUP BY 1
) JOIN documents USING (doc_id) GROUP BY 2
"""

# dp25: BM25 term scoring (corpus idf + per-doc tf saturation); output
# restricted to the sampled docs, corpus statistics computed over ALL docs.
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 3

def q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    top = textstats.bm25_terms(
        load_table(spark, sf, "documents"), "doc_id", "text",
        k1=_BM25_K1, b=_BM25_B, k=_BM25_K,
    )
    return top.filter(F.col("doc_id") % 25 == 0)

SQL_BM25 = f"""
WITH tk AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
  ) WHERE len(toks) > 0
),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tk
  ) GROUP BY 1, 2, 3
),
st AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tk),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * tf.dl / st.avgdl)),
               6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN st
)
SELECT doc_id, rank::INT AS rank, term, tf AS tf_ct, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM sc
) WHERE rank <= {_BM25_K} AND doc_id % 25 = 0
"""

# dp25b: the query side — BM25 full-text search top-k (per-term scores
# summed as integer micros so the ranking key is associative on both
# engines). One tagged dp25 entry carries both directions.
_BM25_QUERY = "fast hash join"
_BM25_SEARCH_K = 20


def q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.bm25_search(
        load_table(spark, sf, "documents"), "doc_id", "text", _BM25_QUERY,
        k1=_BM25_K1, b=_BM25_B, k=_BM25_SEARCH_K,
    )


def _sql_bm25_search() -> str:
    terms = textstats.query_terms(_BM25_QUERY)
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tk AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
  ) WHERE len(toks) > 0
),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tk
  ) WHERE term IN ({in_list}) GROUP BY 1, 2, 3
),
st AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tk),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         CAST(round(round(ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * tf.dl / st.avgdl)),
               6) * 1000000) AS BIGINT) AS su
  FROM tf JOIN dfq USING (term) CROSS JOIN st
),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_hit, sum(su)::BIGINT AS su FROM sc GROUP BY 1)
SELECT doc_id, rank, n_hit, score FROM (
  SELECT doc_id, row_number() OVER (ORDER BY su DESC, doc_id) AS rank,
         n_hit, su / 1000000.0 AS score
  FROM tot
) WHERE rank <= {_BM25_SEARCH_K}
"""


SQL_BM25_SEARCH = _sql_bm25_search()


_POSTIDX_BUILT: dict[str, str] = {}  # sf dir -> streamed postings index dir


def q_bm25_batch(spark: SparkSession, sf: str) -> DataFrame:
    """The two BATCH branches (terms + search) — what the frozen sf1
    bench tier has timed since round 6. The driver gate runs ``q_bm25c``
    (this + the streamed-index branch); the bench stays on this twin so
    the tier keeps measuring the same workload round-over-round instead
    of absorbing the one-off stream-ingest cost."""
    terms_b = q_bm25(spark, sf).select(
        F.lit("terms").alias("branch"), "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("term").alias("key"),
        F.col("tf_ct").cast("double").alias("v1"),
        F.col("score").alias("v2"),
    )
    search_b = q_bm25_search(spark, sf).select(
        F.lit("search").alias("branch"), "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.lit("q").alias("key"),
        F.col("n_hit_terms").cast("double").alias("v1"),
        F.col("score").alias("v2"),
    )
    return terms_b.unionByName(search_b)


def q_bm25c(spark: SparkSession, sf: str) -> DataFrame:
    batch_b = q_bm25_batch(spark, sf)
    # sindex branch: the SAME search answered by the stream-maintained
    # postings index (searchindex.stream_postings_upkeep — documents
    # ingested in micro-batches, index folded incrementally). Its DuckDB
    # twin recomputes from the raw documents table, so a hash match
    # proves stream-maintained index == batch scoring == independent
    # engine. Memoized per (process, sf) like _WIDE_BUILT, existence-
    # checked so a cleaned scratch dir invalidates the memo.
    from flinkrealtimedatawarehouse_spark.streaming import searchindex
    from flinkrealtimedatawarehouse_spark.streaming.runner import scratch_dir

    idx_dir = _POSTIDX_BUILT.get(sf)
    if idx_dir is not None and not os.path.isdir(idx_dir):
        idx_dir = None
    if idx_dir is None:
        idx_dir = scratch_dir("postidx")
        searchindex.stream_postings_upkeep(
            load_table(spark, sf, "documents").select("doc_id", "text"),
            "doc_id", "text", idx_dir,
        )
        _POSTIDX_BUILT[sf] = idx_dir
    sindex_b = searchindex.streamed_postings_search(
        spark, idx_dir, "doc_id", _BM25_QUERY,
        k1=_BM25_K1, b=_BM25_B, k=_BM25_SEARCH_K,
    ).select(
        F.lit("sindex").alias("branch"), "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.lit("q").alias("key"),
        F.col("n_hit_terms").cast("double").alias("v1"),
        F.col("score").alias("v2"),
    )
    return batch_b.unionByName(sindex_b)


SQL_BM25_BATCH = f"""
SELECT 'terms' AS branch, doc_id, rank, term AS key, tf_ct::DOUBLE AS v1, score AS v2
FROM ({SQL_BM25})
UNION ALL
SELECT 'search', doc_id, rank::INT, 'q', n_hit::DOUBLE, score FROM ({SQL_BM25_SEARCH})
"""

SQL_BM25C = f"""{SQL_BM25_BATCH}
UNION ALL
SELECT 'sindex', doc_id, rank::INT, 'q', n_hit::DOUBLE, score FROM ({SQL_BM25_SEARCH})
"""

# dp20+dp21+dp27: mix sampling feeding sequence packing, plus the
# train/val/test split assignment — the composed curation pipeline
# (sample the training mix, pack what survived, and stamp every surviving
# doc's split). Tagged union: (kind, source, key, doc_ct, tok_sum).
_SPLITS = (("train", 0.8), ("val", 0.1), ("test", 0.1))
_N_SHUF_SHARDS = 8
_CHUNK_SEQ = 2048

def q_mix_pack(spark: SparkSession, sf: str) -> DataFrame:
    kept = textstats.mix_sample(
        load_table(spark, sf, "documents"), "doc_id", _MIX_RATES, "source"
    )
    packed = textstats.pack_bins(kept, "doc_id", "n_chars", _PACK_BUDGET, part_col="source")
    pack_branch = packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("doc_ct"), F.sum("n_chars").alias("tok_sum")
    ).select(
        F.lit("pack").alias("kind"), "source",
        F.col("bin").cast("string").alias("key"), "doc_ct", "tok_sum",
    )
    split_branch = (
        textstats.split_assign(kept, "doc_id", _SPLITS)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("doc_ct"), F.sum("n_chars").alias("tok_sum"))
        .select(F.lit("split").alias("kind"), "source",
                F.col("split").alias("key"), "doc_ct", "tok_sum")
    )
    # shuffle branch: the position-weighted checksum breaks if the
    # in-shard permutation order differs anywhere, not just the counts
    shuffle_branch = (
        textstats.global_shuffle(kept, "doc_id", _N_SHUF_SHARDS)
        .groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum(F.col("pos") * (F.col("doc_id") % 97)).alias("tok_sum"),
        )
        .select(F.lit("shuffle").alias("kind"), "source",
                F.col("shard").cast("string").alias("key"), "doc_ct", "tok_sum")
    )
    # chunkpack branch: GPT-style fixed-length blocks over the concatenated
    # stream; the block*n_toks+off checksum pins every boundary crossing
    chunk_branch = (
        textstats.concat_chunks(kept, "doc_id", "n_chars", _CHUNK_SEQ, part_col="source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum(F.col("block") * F.col("n_toks") + F.col("off_in_doc")).alias("tok_sum"),
        )
        .select(F.lit("chunkpack").alias("kind"), "source",
                F.lit("all").alias("key"), "doc_ct", "tok_sum")
    )
    return (
        pack_branch.unionByName(split_branch)
        .unionByName(shuffle_branch)
        .unionByName(chunk_branch)
    )

def _duck_split_case() -> str:
    """The split_assign bucket CASE — bucket space and cumulative ranges
    come from textstats (SPLIT_BUCKET_SPACE / split_ranges), the single
    spec split_assign itself uses, so the two sides cannot diverge."""
    bucket = duck_phash("doc_id::VARCHAR || '_split'") + f" % {textstats.SPLIT_BUCKET_SPACE}"
    conds = textstats.split_ranges(_SPLITS)
    arms = [f"WHEN {bucket} < {hi} THEN '{name}'" for name, hi in conds[:-1]]
    return "CASE " + " ".join(arms) + f" ELSE '{_SPLITS[-1][0]}' END"

def _sql_mix_pack() -> str:
    kept = f"(SELECT * FROM documents WHERE {_duck_mix_conds()})"
    shuf_hash = duck_phash("doc_id::VARCHAR || '_shuf'")
    return f"""
SELECT 'pack' AS kind, source, bin::VARCHAR AS key, doc_ct, tok_sum
FROM ({_duck_pack_sql(kept)})
UNION ALL
SELECT 'split', source, {_duck_split_case()}, count(*)::BIGINT, sum(n_chars)::BIGINT
FROM {kept} GROUP BY 1, 2, 3
UNION ALL
SELECT 'shuffle', source, shard::VARCHAR, count(*)::BIGINT,
       sum(pos * (doc_id % 97))::BIGINT
FROM (
  SELECT doc_id, source,
         ({shuf_hash} % {_N_SHUF_SHARDS})::INT AS shard,
         row_number() OVER (PARTITION BY {shuf_hash} % {_N_SHUF_SHARDS}
                            ORDER BY {shuf_hash}, doc_id) - 1 AS pos
  FROM {kept}
) GROUP BY 1, 2, 3
UNION ALL
SELECT 'chunkpack', source, 'all', count(*)::BIGINT,
       sum(b * n_toks + off_in_doc)::BIGINT
FROM (
  SELECT source, doc_id, b,
         greatest(cum - n, b * {_CHUNK_SEQ}) - (cum - n) AS off_in_doc,
         least(cum, (b + 1) * {_CHUNK_SEQ}) - greatest(cum - n, b * {_CHUNK_SEQ}) AS n_toks
  FROM (
    SELECT source, doc_id, n_chars::BIGINT AS n,
           sum(n_chars::BIGINT) OVER (PARTITION BY source ORDER BY doc_id) AS cum
    FROM {kept} WHERE n_chars > 0
  ), unnest(range(((cum - n) // {_CHUNK_SEQ})::BIGINT,
                  ((cum - 1) // {_CHUNK_SEQ} + 1)::BIGINT)) AS t(b)
) GROUP BY 1, 2
"""

SQL_MIX_PACK = _sql_mix_pack()


# Registry note: consolidated to fit the driver's 50-entry recording cap —
# tagged unions / composed pipelines keep every operator oracle-gated in
# fewer slots (see COVERAGE.md for the component -> gate-query map). The
# per-operator q_* functions stay defined for tests and bench.
REGISTRY = {
    "dp1_exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "dp2_minhash_lsh_neardup": (q_dp2c, SQL_DP2C),
    "dp3_neardup_family": (q_neardup_family, SQL_NEARDUP_FAMILY),
    "dp6_cosine_topk": (q_cosine_topk_both, SQL_COSINE_TOPK_BOTH),
    "dp7_ann_topk": (q_ann_both, SQL_ANN_BOTH),
    "dp8a_repetition": (q_dp8a_repetition, SQL_DP8A),
    "dp8b_lang": (q_dp8b_lang, SQL_DP8B),
    "dp8c_quality": (q_dp8c_quality, SQL_DP8C),
    "dp8d_tokens": (q_dp8d_tokens, SQL_DP8D),
    "dp8e_gopher": (q_dp8e_gopher, SQL_DP8E),
    "dp11_fingerprint": (q_fp_embed, SQL_FP_EMBED),
    "dp12_multimodal_features": (q_multimodal, SQL_MULTIMODAL),
    "dp15_pii_redact": (q_dp15c, SQL_DP15C),
    "dp16_corpus_ngrams": (q_corpus_ngrams, SQL_CORPUS_NGRAMS),
    "dp18_decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "dp19_dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dp20_mix_pack": (q_mix_pack, SQL_MIX_PACK),
    "dp23_curation": (q_curation, SQL_CURATION),
    "dp25_bm25": (q_bm25c, SQL_BM25C),
}
