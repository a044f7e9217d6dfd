"""Corpus dedup & similarity-search family (split out of corpus_ops.py in
round 7 — pure move, no behavior change): LSH/PQ/multiprobe ANN, minhash
estimation, containment, exact-substring fingerprints (Karp-Rabin windows,
winnowing), the dedup waterfall and its measurement layer (threshold sweep,
best-survivor, incremental admission, dup-vs-quality bias; its clusters come
from llm_extended.q_dup_clusters), semantic dedup, and the
contamination/decontamination tier (test-set leakage, n-gram
decontamination, split/cross-source leaks).

All candidate generation is bucketed/blocked (bands, posting lists with the
hot-shingle cap, IVF cells, PQ codes) — nothing all-pairs; shared stores
(scored_pairs, minhash signatures, window fingerprints) are session-persisted
once per (session, sf) and probed by every consumer.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions.text import shingle_rows, tokens
from data_ingestion_service_spark.functions.vector import as_double, cosine
from data_ingestion_service_spark.operators.llm import (
    _HOT_SHINGLE_CAP,
    _NEAR_DEDUP_ORACLE,
    doc_shingles,
    near_dup_pairs,
)
from data_ingestion_service_spark.operators.llm_extended import (
    _DUP_CLUSTERS_ORACLE,
    _EMBED_NEAR_DUP_ORACLE,
    _MH_COL_LIST,
    _MH_MIN_COLS,
    embed_near_dup_pairs,
    q_dup_clusters,
)

from data_ingestion_service_spark.registry import register
from data_ingestion_service_spark.session import call_persisted, session_persisted

# Single-pass oracle-side minhash derivation (shared shape with
# llm_extended._BAND_SQL): 16 min aggregates over sh in one scan, zipped
# back to (doc_id, i, mh). The old `sh CROSS JOIN range(0,16)` form
# spilled >79 GB in DuckDB and died at the sf5 stress tier; values are
# bit-identical (verified at sf0.01 before the swap).
_HASHES_SQL = f"""hashes_wide AS MATERIALIZED (
  SELECT doc_id,
         {_MH_MIN_COLS}
  FROM sh GROUP BY doc_id
),
hashes AS (
  SELECT doc_id, unnest(range(0, 16)) AS i, unnest([{_MH_COL_LIST}]) AS mh
  FROM hashes_wide
),"""

# ---------------------------------------------------------------------------
# q_knn_lsh — sign-random-projection (hyperplane) LSH bucketed ANN.
# ---------------------------------------------------------------------------

_LSH_PLANES = 4  # 4 sign bits -> 16 buckets
_LSH_DIM = 64

# Deterministic ±1 hyperplane components: sign(p, d) = +1 iff the first
# hex nibble of md5("p|d") is < '8'. Derived once here and inlined as
# literals into BOTH the Spark plan and the oracle SQL, so the two
# engines share the exact same hyperplanes by construction (same idiom
# as q_train_test_split's hash split: the hash is the spec).
_LSH_SIGNS: list[list[float]] = [
    [
        1.0 if hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0] < "8" else -1.0
        for d in range(_LSH_DIM)
    ]
    for p in range(_LSH_PLANES)
]


def _sql_plane(p: int) -> str:
    lits = ", ".join(str(int(v)) for v in _LSH_SIGNS[p])
    return f"[{lits}]::DOUBLE[]"


def _sql_proj(p: int) -> str:
    # Same left-to-right f64 fold as Spark's aggregate(zip_with(...)):
    # identical inputs -> bit-identical sums -> identical sign bits.
    return (
        f"list_aggregate(list_transform(range(1, {_LSH_DIM + 1}), "
        f"i -> e[i] * ({_sql_plane(p)})[i]), 'sum')"
    )


def _lsh_sigs_arrow(
    emb: DataFrame, with_emb: bool = False, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id[, e][, *extra], bucket): the corpus-sized sign-LSH
    signature pass as ONE Arrow ``mapInPandas`` kernel (round 8 —
    replaces 4 interpreted ``aggregate(zip_with(...))`` projections per
    row, the never-codegen'd fold VERDICT r7 flagged as the 100 TB
    bottleneck of this family). ``vector_kernels.lsh_bucket`` replays
    the identical left-to-right f64 fold per plane, so every sign bit —
    and therefore every bucket id the oracle's ``_sql_proj`` computes —
    is bit-identical. Bucket stays INT to match the HOF plan's
    ``1 << p`` literal sums. ``extra`` names emb columns to pass
    through (e.g. ``label``), keeping the pass join-free."""
    import numpy as np

    from data_ingestion_service_spark.functions import vector_kernels as vk

    signs = np.array(_LSH_SIGNS)
    inp = emb.select("vec_id", as_double("embedding").alias("e"), *extra)
    types = {f.name: f.dataType.simpleString() for f in inp.schema.fields}

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            mat = vk.stack(pdf["e"])
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            if with_emb:
                out["e"] = pdf["e"]
            for c in extra:
                out[c] = pdf[c]
            out["bucket"] = vk.lsh_bucket(mat, signs).astype(np.int32)
            yield pd.DataFrame(out)

    cols = ["vec_id bigint"]
    if with_emb:
        cols.append("e array<double>")
    cols += [f"{c} {types[c]}" for c in extra]
    return inp.mapInPandas(kernel, schema=", ".join(cols) + ", bucket int")


_KNN_LSH_ORACLE = f"""
WITH sigs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         {" + ".join(f"(CASE WHEN {_sql_proj(p)} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(_LSH_PLANES))}
           AS bucket
  FROM embeddings
),
probe AS (SELECT e AS pe, bucket AS pb FROM sigs WHERE vec_id = 0)
SELECT vec_id, bucket,
       round(list_cosine_similarity(s.e, probe.pe), 4) AS cos_sim
FROM sigs s, probe
WHERE s.bucket = probe.pb AND s.vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 5
"""


@register("q_knn_lsh", oracle=_KNN_LSH_ORACLE)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors of probe vec_id=0.

    One scan computes every vector's 4-bit hyperplane signature; the
    probe's bucket is broadcast and only same-bucket vectors are scored
    exactly. Scale shape: signatures are a map-only pass; the candidate
    join is an equi-join on bucket (each bucket ~1/16 of the corpus
    here, ~1/2^P in general); top-k is TakeOrderedAndProject. Recall is
    tuned with more band tables, not bigger buckets (cf. q_minhash_pairs).
    Signatures come from the shared Arrow kernel (_lsh_sigs_arrow).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = _lsh_sigs_arrow(emb, with_emb=True)
    probe = sigs.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("pe"), F.col("bucket").alias("pb")
    )
    return (
        sigs.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe), F.col("bucket") == F.col("pb"))
        .select(
            "vec_id",
            "bucket",
            F.round(cosine(F.col("e"), F.col("pe")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )

# ---------------------------------------------------------------------------
# q_knn_pq — product quantization: encode each vector as M=4 sub-space
# codes (K=4 centroids per sub-space), search by asymmetric distance
# (probe-to-centroid lookup tables, no full vectors touched at query
# time). Codebooks are the sub-vectors of 4 fixed seed rows — learning
# them is the orthogonal k-means step already shown by
# q_knn_ivf_kmeans; fixed seeds keep both engines' codes identical by
# construction. At 100 TB the 16-byte-per-vector code table IS the
# searchable index: the scan reads codes, not 256-byte vectors, and
# the ADC sum is 4 table lookups per candidate.
# ---------------------------------------------------------------------------

_PQ_M = 4  # sub-spaces
_PQ_K = 4  # centroids per sub-space
_PQ_D = 16  # dims per sub-space (4 x 16 = 64)
_PQ_SEEDS = (1, 2, 3, 4)  # vec_ids whose sub-vectors form the codebook


def _pq_sub_sql(expr: str, s: int) -> str:
    return f"{expr}[{s * _PQ_D + 1}:{(s + 1) * _PQ_D}]"


def _pq_l2_sql(a: str, b: str) -> str:
    # Same left-to-right f64 fold as Spark's aggregate(zip_with(...)).
    return (
        f"round(list_aggregate(list_transform(range(1, {_PQ_D + 1}), "
        f"i -> (({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i])), 'sum'), 6)"
    )


def _pq_code_sql(d: list[str]) -> str:
    # argmin with lowest-k tiebreak, identical CASE chain in both engines.
    return (
        f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} AND {d[0]} <= {d[3]} THEN 0 "
        f"WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 1 "
        f"WHEN {d[2]} <= {d[3]} THEN 2 ELSE 3 END"
    )


def _pq_oracle() -> str:
    cent_cols = ", ".join(
        f"(SELECT v FROM e WHERE vec_id = {seed}) AS c{k}"
        for k, seed in enumerate(_PQ_SEEDS)
    )
    code_cols = []
    for s in range(_PQ_M):
        d = [
            _pq_l2_sql(_pq_sub_sql("x.v", s), _pq_sub_sql(f"cents.c{k}", s))
            for k in range(_PQ_K)
        ]
        code_cols.append(f"{_pq_code_sql(d)} AS code{s}")
    t_cols = []
    for s in range(_PQ_M):
        for k in range(_PQ_K):
            t_cols.append(
                f"{_pq_l2_sql(_pq_sub_sql('probe.v', s), _pq_sub_sql(f'cents.c{k}', s))}"
                f" AS t{s}_{k}"
            )
    adc_terms = []
    for s in range(_PQ_M):
        adc_terms.append(
            "CASE codes.code{s} "
            + " ".join(f"WHEN {k} THEN tt.t{{s}}_{k}" for k in range(_PQ_K))
            + " END"
        )
    adc = " + ".join(t.format(s=s) for s, t in enumerate(adc_terms))
    # Shared WITH-body: `scored` = every non-probe vector with its code
    # and (rounded) ADC distance; the two PQ oracles select from it.
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT {cent_cols}),
codes AS (
  SELECT x.vec_id, {", ".join(code_cols)}
  FROM e x CROSS JOIN cents
),
probe AS (SELECT v FROM e WHERE vec_id = 0),
tt AS (SELECT {", ".join(t_cols)} FROM probe CROSS JOIN cents),
scored AS (
  SELECT codes.vec_id,
         codes.code0 * 64 + codes.code1 * 16 + codes.code2 * 4 + codes.code3
           AS pq_code,
         round({adc}, 4) AS adc_dist
  FROM codes CROSS JOIN tt
  WHERE codes.vec_id <> 0
)"""


_KNN_PQ_ORACLE = (
    _pq_oracle()
    + """
SELECT vec_id, pq_code, adc_dist
FROM scored
ORDER BY adc_dist, vec_id
LIMIT 10
"""
)


class PQCodebookError(LookupError):
    """The probe row or a codebook seed row is missing from embeddings."""


def _pq_codebook(spark: SparkSession, sf_dir: str):
    """(K×64 seed matrix, 1×64 probe row) from the pq_codebook store: the
    4 seed rows and probe row 0 as f64, persisted once per (session, sf).
    The codebook is tiny by design; it rides the code kernel's closure,
    and the probe's t-table is computed from it on the driver."""
    import numpy as np

    def build() -> DataFrame:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id").isin(0, *_PQ_SEEDS))
            .select("vec_id", as_double("embedding").alias("v"))
        )
        found = {r.vec_id for r in rows.select("vec_id").collect()}
        missing = sorted({0, *_PQ_SEEDS} - found)
        if missing:
            raise PQCodebookError(
                f"embeddings under {sf_dir} lack vec_id {missing}: PQ needs "
                f"probe 0 and codebook seeds {list(_PQ_SEEDS)}"
            )
        return rows

    rows = {
        r.vec_id: r.v
        for r in session_persisted(spark, ("pq_codebook", sf_dir), build).collect()
    }
    cent_mat = np.array([rows[seed] for seed in _PQ_SEEDS], dtype=np.float64)
    return cent_mat, np.array([rows[0]], dtype=np.float64)


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, pq_code, code0..code3) for every non-probe vector,
    persisted once per (session, sf) — the PQ code table, the searchable
    index. Built through the pq_codebook store.

    The 16 per-row sub-distance folds run in ONE Arrow ``mapInPandas``
    kernel emitting the RAW folds (functions/vector_kernels.py replays
    the identical left-to-right IEEE fold per dimension), so each fold is
    computed once instead of in interpreted ``aggregate(zip_with(...))``
    HOFs that never codegen. Rounding and the argmin CASE stay JVM-side
    on the kernel's plain columns, so codes stay bit-identical to the
    DuckDB oracle."""

    def build() -> DataFrame:
        from data_ingestion_service_spark.functions import vector_kernels as vk

        cent_mat, _ = _pq_codebook(spark, sf_dir)
        dist_cols = [f"d{s}_{k}" for s in range(_PQ_M) for k in range(_PQ_K)]

        def sub_dists(batches):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                mat = vk.stack(pdf["v"])
                out = {"vec_id": pdf["vec_id"].to_numpy()}
                for s in range(_PQ_M):
                    sub = mat[:, s * _PQ_D : (s + 1) * _PQ_D]
                    for k in range(_PQ_K):
                        out[f"d{s}_{k}"] = vk.fold_sq_l2(
                            sub, cent_mat[k, s * _PQ_D : (s + 1) * _PQ_D]
                        )
                yield pd.DataFrame(out)

        # Filter BEFORE the kernel so the vec_id predicate reaches the
        # parquet scan (mapInPandas is a pushdown barrier).
        raw = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") != 0)
            .select("vec_id", as_double("embedding").alias("v"))
            .mapInPandas(
                sub_dists,
                schema="vec_id bigint, "
                + ", ".join(f"{c} double" for c in dist_cols),
            )
        )

        def rd(s: int, k: int):
            # The SAME JVM round the HOF plan applied to the same raw double.
            return F.round(F.col(f"d{s}_{k}"), 6)

        def argmin(d):
            return (
                F.when((d[0] <= d[1]) & (d[0] <= d[2]) & (d[0] <= d[3]), 0)
                .when((d[1] <= d[2]) & (d[1] <= d[3]), 1)
                .when(d[2] <= d[3], 2)
                .otherwise(3)
            )

        codes = raw.select(
            "vec_id",
            *[
                argmin([rd(s, k) for k in range(_PQ_K)]).alias(f"code{s}")
                for s in range(_PQ_M)
            ],
        )
        return codes.select(
            "vec_id",
            (
                F.col("code0") * 64
                + F.col("code1") * 16
                + F.col("code2") * 4
                + F.col("code3")
            ).alias("pq_code"),
            *[f"code{s}" for s in range(_PQ_M)],
        )

    return session_persisted(spark, ("pq_codes", sf_dir), build)


def _pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, pq_code, adc_dist) for every non-probe vector — the PQ
    code table scored against probe 0; shared by the plain PQ search
    and the re-ranked variant.

    Built once per session: the codebook (pq_codebook) and the code table
    (pq_codes), neither of which depends on the probe. Each call computes
    the probe's 16-entry t-table on the driver and scores the persisted
    codes with a JVM-side ADC ``CASE`` — no Python stage, no broadcast."""
    from data_ingestion_service_spark.functions import vector_kernels as vk

    cent_mat, probe_mat = _pq_codebook(spark, sf_dir)
    # Probe t-table: the SAME kernel fold (vk.fold_sq_l2) over the same
    # f64 sub-vectors the code kernel folds, and the JVM F.round(lit, 6)
    # below is the identical rounding step.
    tvals = {
        (s, k): float(
            vk.fold_sq_l2(
                probe_mat[:, s * _PQ_D : (s + 1) * _PQ_D],
                cent_mat[k, s * _PQ_D : (s + 1) * _PQ_D],
            )[0]
        )
        for s in range(_PQ_M)
        for k in range(_PQ_K)
    }

    def rt(s: int, k: int):
        return F.round(F.lit(tvals[(s, k)]), 6)

    adc = None
    for s in range(_PQ_M):
        term = (
            F.when(F.col(f"code{s}") == 0, rt(s, 0))
            .when(F.col(f"code{s}") == 1, rt(s, 1))
            .when(F.col(f"code{s}") == 2, rt(s, 2))
            .otherwise(rt(s, 3))
        )
        adc = term if adc is None else adc + term
    return pq_codes(spark, sf_dir).select(
        "vec_id", "pq_code", F.round(adc, 4).alias("adc_dist")
    )


@register("q_knn_pq", oracle=_KNN_PQ_ORACLE)
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization kNN: top 10 by ADC distance to probe 0.

    Built once per session: the codebook rows and the code table (see
    :func:`_pq_scored`). Each call derives the probe's t-table on the
    driver and ranks the persisted codes JVM-side; the codes never
    depend on the probe, so re-encoding the corpus per call repeats the
    whole Python kernel for identical codes."""
    return (
        _pq_scored(spark, sf_dir)
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
    )

# ---------------------------------------------------------------------------
# q_knn_pq_rerank — two-stage retrieval: the ADC code scan shortlists 32
# candidates (reading only 16-byte codes), then ONLY those 32 full
# vectors are fetched for an exact cosine re-rank of the top 5 — the
# standard recall-restoring pattern that keeps full-vector IO
# proportional to the shortlist, not the corpus.
# ---------------------------------------------------------------------------

_PQ_RERANK_ORACLE = (
    _pq_oracle()
    + """,
shortlist AS (
  SELECT vec_id FROM scored ORDER BY adc_dist, vec_id LIMIT 32
)
SELECT s.vec_id,
       round(list_cosine_similarity(e.v, probe.pe), 4) AS cos_sim
FROM shortlist s
JOIN e ON e.vec_id = s.vec_id
CROSS JOIN (SELECT v AS pe FROM e WHERE vec_id = 0) probe
ORDER BY cos_sim DESC, s.vec_id
LIMIT 5
"""
)


@register("q_knn_pq_rerank", oracle=_PQ_RERANK_ORACLE)
def q_knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = (
        _pq_scored(spark, sf_dir)
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(32)
        .select("vec_id")
    )
    probe = emb.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("pe")
    )
    return (
        emb.join(F.broadcast(shortlist), "vec_id", "left_semi")
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(cosine(as_double("embedding"), F.col("pe")), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )

# ---------------------------------------------------------------------------
# q_knn_multiprobe — multi-probe LSH: the recall lever that probes the
# query's home bucket PLUS every Hamming-1 neighbor bucket (flip one
# sign bit), trading a 5× candidate set for recall that would otherwise
# need 5 independent band tables (5× index storage). Same hyperplanes
# as q_knn_lsh.
# ---------------------------------------------------------------------------

_KNN_MULTIPROBE_ORACLE = f"""
WITH sigs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         {" + ".join(f"(CASE WHEN {_sql_proj(p)} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(_LSH_PLANES))}
           AS bucket
  FROM embeddings
),
probe AS (SELECT e AS pe, bucket AS pb FROM sigs WHERE vec_id = 0),
wanted AS (
  SELECT pb AS b FROM probe
  UNION ALL
  SELECT xor(pb, bit) FROM probe,
         (SELECT unnest([{", ".join(str(1 << p) for p in range(_LSH_PLANES))}]) AS bit)
)
SELECT vec_id, bucket,
       round(list_cosine_similarity(s.e, probe.pe), 4) AS cos_sim
FROM sigs s, probe
WHERE s.bucket IN (SELECT b FROM wanted) AND s.vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


@register("q_knn_multiprobe", oracle=_KNN_MULTIPROBE_ORACLE)
def q_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-10: candidates from the probe's bucket and
    its 4 Hamming-1 neighbors (~5/16 of the corpus here, ~(P+1)/2^P in
    general). The probe set is a 5-row broadcast joined on bucket —
    still an equi-join, never a scan of the other 11 buckets. Compare
    q_knn_lsh (single bucket): same index, wider probing, higher
    recall, same plan shape. Signatures: shared Arrow kernel
    (_lsh_sigs_arrow)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = _lsh_sigs_arrow(emb, with_emb=True)
    probe = sigs.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("pe"), F.col("bucket").alias("pb")
    )
    flips = spark.range(_LSH_PLANES + 1).select(
        F.when(F.col("id") == _LSH_PLANES, F.lit(0))
        .otherwise(F.expr("shiftleft(1, cast(id AS int))"))
        .alias("bit")
    )
    wanted = probe.crossJoin(flips).select(
        F.col("pe"), (F.col("pb").bitwiseXOR(F.col("bit"))).alias("bucket")
    )
    return (
        sigs.filter(F.col("vec_id") != 0)
        .join(F.broadcast(wanted), "bucket")
        .select(
            "vec_id",
            "bucket",
            F.round(cosine(F.col("e"), F.col("pe")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )

# ---------------------------------------------------------------------------
# q_contamination_check — test-split docs with a near-duplicate in the
# train split (decontamination: the canonical pre-training hygiene pass).
# ---------------------------------------------------------------------------

# Reuses q_near_dedup's full pair SQL as a subquery, then classifies each
# side with q_train_test_split's hash split and keeps only cross-split
# pairs, oriented test -> train.
_CONTAMINATION_ORACLE = f"""
WITH nd AS ({_NEAR_DEDUP_ORACLE}),
split AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train' ELSE 'test' END AS sp
  FROM documents
)
SELECT
  CASE WHEN sa.sp = 'test' THEN nd.doc_a ELSE nd.doc_b END AS test_doc,
  CASE WHEN sa.sp = 'test' THEN nd.doc_b ELSE nd.doc_a END AS train_doc,
  nd.jaccard
FROM nd
JOIN split sa ON sa.doc_id = nd.doc_a
JOIN split sb ON sb.doc_id = nd.doc_b
WHERE sa.sp <> sb.sp
"""


@register("q_contamination_check", oracle=_CONTAMINATION_ORACLE)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate leakage: every (test_doc, train_doc)
    pair whose 3-shingle Jaccard clears the near-dup threshold. Probes
    the session-cached pair index (built once per session/sf by the
    dedup family) and broadcasts the tiny split map — the incremental
    cost over q_near_dedup is two broadcast hash joins over a few
    hundred pair rows."""
    pairs = near_dup_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
            < "c",
            "train",
        )
        .otherwise("test")
        .alias("sp"),
    )
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("sp").alias("sp_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("sp").alias("sp_b"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(F.col("sp_a") != F.col("sp_b"))
        .select(
            F.when(F.col("sp_a") == "test", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("test_doc"),
            F.when(F.col("sp_a") == "test", F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("train_doc"),
            "jaccard",
        )
    )

# ---------------------------------------------------------------------------
# q_near_dedup_survivors — end-to-end near-dup dedup: keep one doc per
# duplicate cluster, report the surviving corpus per source.
# ---------------------------------------------------------------------------

_SURVIVORS_ORACLE = (
    "WITH comp_full AS MATERIALIZED ("
    + _DUP_CLUSTERS_ORACLE
    + """)
SELECT d.source,
       count(*)                                           AS n_docs,
       CAST(sum(CASE WHEN c.rep_id = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_survivors,
       CAST(sum(CASE WHEN c.rep_id = d.doc_id
                     THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
         AS surviving_tokens
FROM documents d
JOIN comp_full c ON c.doc_id = d.doc_id
GROUP BY d.source
"""
)


@register("q_near_dedup_survivors", oracle=_SURVIVORS_ORACLE)
def q_near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's dedup OUTPUT stage: detect near-dups (shingle
    index), cluster them (connected components), keep the min-id doc of
    each cluster, and report per-source doc/survivor/token counts — what
    a training-data build actually materializes. Reuses the cached pair
    index and converged labels; the incremental cost is one broadcast
    join of the label table against the corpus scan."""
    comp = q_dup_clusters(spark, sf_dir).select("doc_id", "rep_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tok")
    )
    survived = F.when(F.col("rep_id") == F.col("doc_id"), 1).otherwise(0)
    return (
        docs.join(comp, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(survived).alias("n_survivors"),
            F.sum(
                F.when(F.col("rep_id") == F.col("doc_id"), F.col("n_tok")).otherwise(0)
            )
            .cast("bigint")
            .alias("surviving_tokens"),
        )
    )

# ---------------------------------------------------------------------------
# q_minhash_estimate — Jaccard ESTIMATION from MinHash signatures: for
# every LSH candidate pair, the fraction of agreeing signature
# components is an unbiased estimate of the true Jaccard — the second
# half of what signatures buy (banding finds the pairs, agreement
# scores them WITHOUT touching shingles again). At 100 TB this replaces
# the exact-verify join for use cases that tolerate ±1/16 resolution.
# ---------------------------------------------------------------------------

_MINHASH_EST_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
    WHERE len(t) >= 3
  )
),
""" + _HASHES_SQL + """
bands AS (
  SELECT doc_id, i // 2 AS band, md5(string_agg(mh, '' ORDER BY i)) AS band_hash
  FROM hashes
  GROUP BY doc_id, i // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       round(count(CASE WHEN ha.mh = hb.mh THEN 1 END) / 16.0, 4)
         AS est_jaccard
FROM cand c
JOIN hashes ha ON ha.doc_id = c.doc_a
JOIN hashes hb ON hb.doc_id = c.doc_b AND hb.i = ha.i
GROUP BY c.doc_a, c.doc_b
"""


@register("q_minhash_estimate", oracle=_MINHASH_EST_ORACLE)
def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.operators.llm_extended import (
        minhash_signatures,
    )
    from data_ingestion_service_spark.registry import QUERIES

    # Shared session-persisted signature store (r5 verdict item 4) — the
    # same 16-minhash table q_minhash_pairs' band index derives from.
    sigs = minhash_signatures(spark, sf_dir)
    cand = QUERIES["q_minhash_pairs"](spark, sf_dir).select("doc_a", "doc_b")
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(16)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(16)],
    )
    matches = None
    for i in range(16):
        m = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    # Broadcast the CANDIDATE PAIRS (hundreds of rows), never the
    # signature table (grows with the corpus): each join streams sigs
    # against the broadcast pair list, and the enriched intermediate
    # stays |cand|-sized for the second hop.
    with_a = a.join(F.broadcast(cand), "doc_a")
    return b.join(F.broadcast(with_a), "doc_b").select(
        "doc_a", "doc_b", F.round(matches / 16.0, 4).alias("est_jaccard")
    )

# ---------------------------------------------------------------------------
# q_containment_pairs — asymmetric near-dup detection: shingle
# CONTAINMENT C(A in B) = |A∩B| / |A| catches a short document embedded
# verbatim in a longer one — a case symmetric Jaccard structurally
# under-scores (the union is dominated by the long side). Same inverted
# -index candidate generation as q_near_dedup (only docs sharing a
# shingle ever pair), different final score; emitted per direction.
# ---------------------------------------------------------------------------

_CONTAINMENT_THRESHOLD = 0.6

_CONTAINMENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
    WHERE len(t) >= 3
  )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  -- mirror the Spark side's hot-shingle posting-list cap so the two
  -- definitions stay identical at ANY scale (ADVICE r6)
  WHERE a.shingle IN (SELECT shingle FROM sh
                      GROUP BY shingle
                      HAVING count(DISTINCT doc_id) <= {_HOT_SHINGLE_CAP})
  GROUP BY 1, 2
),
directed AS (
  SELECT doc_a AS inner_doc, doc_b AS outer_doc, n_common,
         n_common * 1.0 / sa.sz AS containment
  FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
  UNION ALL
  SELECT doc_b, doc_a, n_common, n_common * 1.0 / sb.sz
  FROM pairs JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT inner_doc, outer_doc, round(containment, 4) AS containment
FROM directed
WHERE containment >= {_CONTAINMENT_THRESHOLD}
"""


@register("q_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.countDistinct("shingle").alias("sz"))
    grouped = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") <= _HOT_SHINGLE_CAP) & (F.size("ds") >= 2))
    )
    e1 = grouped.select("ds", F.posexplode("ds").alias("i", "doc_a"))
    pairs = (
        e1.select(
            "doc_a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    both = pairs.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
    # Both directions via ONE explode instead of unionAll of two
    # projections of the same join subtree (r11 action-census cut: the
    # union evaluated `both` — two broadcast joins on top of the pair
    # aggregation — twice; identical rows/values by construction).
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("inner_doc"),
                    F.col("doc_b").alias("outer_doc"),
                    (F.col("n_common") / F.col("sz_a")).alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("inner_doc"),
                    F.col("doc_a").alias("outer_doc"),
                    (F.col("n_common") / F.col("sz_b")).alias("containment"),
                ),
            )
        ).alias("p")
    ).select("p.inner_doc", "p.outer_doc", "p.containment")
    return directed.filter(
        F.col("containment") >= _CONTAINMENT_THRESHOLD
    ).select("inner_doc", "outer_doc", F.round("containment", 4).alias("containment"))

# ---------------------------------------------------------------------------
# q_rolling_hash — Karp-Rabin window fingerprints (winnowing summary).
# ---------------------------------------------------------------------------

_RH_K = 4  # tokens per window
_RH_M = 1 << 20  # token-hash modulus (keeps the polynomial in 48 bits)
_RH_P = 1 << 40  # window-hash modulus
_RH_B = 131  # polynomial base


def window_hash_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, wh) — one row per 4-token Karp-Rabin window.

    The shared fingerprint construction behind q_rolling_hash (per-doc
    winnowing summary) and q_substring_dup (cross-doc fingerprint join):
    token hashes from md5 mod 2^20, polynomial fold base 131 mod 2^40,
    so the arithmetic never leaves 48 bits. The per-token hash array is
    computed ONCE per doc (one interpreted HOF pass); window expansion
    is explode(sequence)+getItem arithmetic that stays in whole-stage
    codegen. Map-only — callers choose the shuffle key. Also carries the
    0-based window position ``i`` (q_winnowing_select needs it; position
    -agnostic consumers drop it before any distinct).
    """
    toked = docs.select("doc_id", tokens("text").alias("t")).filter(
        F.size("t") >= _RH_K
    )
    ha = F.transform(
        F.col("t"),
        lambda tok: F.conv(F.substring(F.md5(tok.cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        % _RH_M,
    )
    hashed = toked.select("doc_id", ha.alias("ha"))
    exploded = hashed.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("ha") - _RH_K)).alias("i"),
        "ha",
    )
    wh = F.col("ha")[F.col("i")]
    for j in range(1, _RH_K):
        wh = (wh * _RH_B + F.col("ha")[F.col("i") + j]) % _RH_P
    return exploded.select("doc_id", "i", wh.alias("wh"))

_ROLLING_HASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT
                                  % {_RH_M}) AS ha,
         len(t) AS n
  FROM toks
  WHERE len(t) >= {_RH_K}
),
w AS (
  SELECT doc_id,
         unnest(list_transform(range(1, n - {_RH_K - 2}),
           i -> ((((ha[i] * {_RH_B} + ha[i+1]) % {_RH_P}) * {_RH_B} + ha[i+2])
                 % {_RH_P} * {_RH_B} + ha[i+3]) % {_RH_P})) AS wh
  FROM h
)
SELECT doc_id,
       count(*)            AS n_windows,
       min(wh)             AS fp_min,
       count(DISTINCT wh)  AS fp_distinct
FROM w
GROUP BY doc_id
"""


@register("q_rolling_hash", oracle=_ROLLING_HASH_ORACLE)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin fingerprinting: polynomial hash of every 4-token
    window (mod 2^40, base 131, token hashes from md5 mod 2^20 so the
    fold never leaves 48 bits), summarized winnowing-style as the
    window count, the minimum window hash, and the distinct-hash count.
    The per-token hash array is computed ONCE per doc (one interpreted
    HOF pass); window expansion is explode(sequence)+getItem arithmetic
    that stays in whole-stage codegen, and the only shuffle is the
    final doc_id aggregation — identical topology to shingle_rows. An
    imperative engine would slide the window incrementally; the
    declarative form computes each window independently, same values."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        window_hash_rows(docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.min("wh").alias("fp_min"),
            F.countDistinct("wh").alias("fp_distinct"),
        )
    )

# ---------------------------------------------------------------------------
# q_substring_dup — cross-document EXACT-SUBSTRING duplication (the Lee
# et al. "Deduplicating Training Data Makes Language Models Better"
# tier): document pairs sharing >= 3 distinct 4-token Karp-Rabin window
# fingerprints, i.e. pairs containing verbatim copied spans. This is the
# dedup waterfall's missing rung between q_dedup_docs (whole-text exact)
# and q_near_dedup (shingle Jaccard): it catches a paragraph pasted into
# an otherwise-different page, which whole-text hashing misses and
# symmetric Jaccard under-scores. Scale shape: the fingerprint table
# shuffles keyed by window hash (never text), posting lists are capped
# at _HOT_SHINGLE_CAP docs (boilerplate windows — cap applied in BOTH
# engines so the key stays exact if it fires), pair expansion is
# bounded by cap^2 per window, and the result-sized pair list is
# broadcast through the size joins. Nothing is all-pairs.
# ---------------------------------------------------------------------------

_SUBDUP_MIN_SHARED = 3  # distinct shared windows to call it a dup pair

# Shared CTE fragments (no leading WITH): the window-fingerprint base and
# the qualifying-pair derivation, spliced into this key's oracle AND the
# waterfall's so both engines and both keys share one pair definition.
_WINDOW_HASH_CTE = f"""
toks_rh AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
h_rh AS (
  SELECT doc_id,
         list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT
                                  % {_RH_M}) AS ha,
         len(t) AS n
  FROM toks_rh WHERE len(t) >= {_RH_K}
),
w_rh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, n - {_RH_K - 2}),
           i -> ((((ha[i] * {_RH_B} + ha[i+1]) % {_RH_P}) * {_RH_B} + ha[i+2])
                 % {_RH_P} * {_RH_B} + ha[i+3]) % {_RH_P})) AS wh
  FROM h_rh
),
dw_rh AS (SELECT DISTINCT doc_id, wh FROM w_rh)
"""

_SUBDUP_PAIRS_CTE = f"""
ok_rh AS (
  SELECT wh FROM dw_rh
  GROUP BY wh HAVING count(*) BETWEEN 2 AND {_HOT_SHINGLE_CAP}
),
dwf_rh AS (SELECT dw_rh.* FROM dw_rh JOIN ok_rh USING (wh)),
sub_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM dwf_rh a JOIN dwf_rh b ON a.wh = b.wh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {_SUBDUP_MIN_SHARED}
)
"""

_SUBDUP_ORACLE = f"""
WITH {_WINDOW_HASH_CTE.strip()},
{_SUBDUP_PAIRS_CTE.strip()},
sz_rh AS (SELECT doc_id, count(*) AS nw FROM dw_rh GROUP BY doc_id)
SELECT doc_a, doc_b, n_shared,
       CAST(n_shared * 1000000 // (sa.nw + sb.nw - n_shared) AS BIGINT)
         AS overlap_e6
FROM sub_pairs
JOIN sz_rh sa ON sa.doc_id = doc_a
JOIN sz_rh sb ON sb.doc_id = doc_b
"""


def substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared) — qualifying substring-dup pairs.

    Session-persisted per (sf_dir): q_substring_dup and the waterfall's
    substring rung both probe the same materialized pair list instead of
    re-running the fingerprint shuffle.
    """

    def _build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        dw = window_hash_rows(docs).select("doc_id", "wh").distinct()
        grouped = (
            dw.groupBy("wh")
            .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
            .filter((F.size("ds") >= 2) & (F.size("ds") <= _HOT_SHINGLE_CAP))
        )
        e1 = grouped.select("ds", F.posexplode("ds").alias("i", "doc_a"))
        return (
            e1.select(
                "doc_a",
                F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias(
                    "doc_b"
                ),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= _SUBDUP_MIN_SHARED)
        )

    return session_persisted(spark, ("substring_dup_pairs", sf_dir), _build)


@register("q_substring_dup", oracle=_SUBDUP_ORACLE)
def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = substring_dup_pairs(spark, sf_dir)

    # r11 optimization (guide §2.4): the per-doc fingerprint count used
    # to re-run the whole window-hash + distinct pipeline on EVERY call
    # even though the pair store it joins against was already warm —
    # the doc-sized count table is exactly the kind of index the store
    # registry exists for (same family, same pattern, cold walls are on
    # the bench record).
    def _build_sizes() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return (
            window_hash_rows(docs)
            .select("doc_id", "wh")
            .distinct()
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nw"))
        )

    sizes = session_persisted(
        spark, ("substring_dup_sizes", sf_dir), _build_sizes
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nw").alias("nw_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nw").alias("nw_b"))
    # Broadcast the result-sized PAIR list, never the corpus-sized
    # fingerprint-count table (q_minhash_estimate's join shape).
    with_a = sa.join(F.broadcast(pairs), "doc_a")
    return sb.join(F.broadcast(with_a), "doc_b").select(
        "doc_a",
        "doc_b",
        "n_shared",
        F.expr("n_shared * 1000000 div (nw_a + nw_b - n_shared)").alias(
            "overlap_e6"
        ),
    )

# ---------------------------------------------------------------------------
# q_ngram_decontaminate — n-gram-level test-set decontamination (the
# GPT-3-style "13-gram filter", here 8-grams): a TRAIN document is
# contaminated if it shares ANY token 8-gram with any TEST document —
# finer than q_contamination_check's whole-doc near-dup criterion,
# because a single quoted benchmark answer inside an otherwise-unique
# crawl page is exactly what this catches. Split is the q_train_test_
# split hash (~75/25), shingles come from the shared codegen explode
# idiom, and the join is an inverted-index semi/inner join keyed on the
# 8-gram — train-side grams are DISTINCT-ed per doc first, so a gram
# repeated inside one doc cannot amplify the join, and the test-side
# gram set is corpus-wide distinct (the benchmark suite is always the
# small side at 100 TB — broadcastable; here Spark picks it
# automatically). Reported per source: train docs, contaminated docs,
# and total distinct (doc, gram) overlap instances.
# ---------------------------------------------------------------------------

_NGRAM_DECON_K = 8

_NGRAM_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS is_train,
         string_split(text, ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source, is_train,
         unnest(list_transform(range(1, len(t) - {_NGRAM_DECON_K} + 2),
                i -> list_aggregate(t[i : i + {_NGRAM_DECON_K} - 1], 'string_agg', ' ')))
           AS g
  FROM toks
  WHERE len(t) >= {_NGRAM_DECON_K}
),
test_grams AS (SELECT DISTINCT g FROM grams WHERE NOT is_train),
train_grams AS (
  SELECT DISTINCT doc_id, source, g FROM grams WHERE is_train
),
hits AS (
  SELECT tg.doc_id, tg.source, count(*) AS n_hits
  FROM train_grams tg JOIN test_grams te ON te.g = tg.g
  GROUP BY tg.doc_id, tg.source
),
train_docs AS (
  SELECT source, count(DISTINCT doc_id) AS n_train
  FROM toks WHERE is_train GROUP BY source
)
SELECT d.source,
       d.n_train,
       CAST(coalesce(count(h.doc_id), 0) AS BIGINT)   AS n_contaminated,
       CAST(coalesce(sum(h.n_hits), 0) AS BIGINT)     AS overlap_instances
FROM train_docs d LEFT JOIN hits h ON h.source = d.source
GROUP BY d.source, d.n_train
"""


@register("q_ngram_decontaminate", oracle=_NGRAM_DECON_ORACLE)
def q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_train = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        < "c"
    )
    tagged = docs.select("doc_id", "source", is_train.alias("is_train"))
    grams = shingle_rows(docs, _NGRAM_DECON_K).join(tagged, "doc_id")
    test_grams = (
        grams.filter(~F.col("is_train")).select(F.col("shingle").alias("g")).distinct()
    )
    train_grams = (
        grams.filter(F.col("is_train"))
        .select("doc_id", "source", F.col("shingle").alias("g"))
        .distinct()
    )
    hits = (
        train_grams.join(test_grams, "g")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    train_docs = (
        tagged.filter("is_train")
        .groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_train"))
    )
    return (
        train_docs.join(hits, "source", "left")
        .groupBy("source", "n_train")
        .agg(
            F.count("doc_id").cast("long").alias("n_contaminated"),
            F.coalesce(F.sum("n_hits"), F.lit(0))
            .cast("long")
            .alias("overlap_instances"),
        )
    )

# ---------------------------------------------------------------------------
# q_dup_paragraph_fraction — CROSS-document duplicate-paragraph
# fraction (the CCNet/Gopher corpus-quality signal; q_repetition_score
# is the WITHIN-doc complement): docs are segmented into fixed 10-token
# blocks ("paragraphs" — the fixture has no newlines, so segmentation
# is positional and identical in both engines), each block is hashed,
# and a block is duplicated if the SAME block text appears in any other
# document. Per doc: block count and duplicated-block fraction; per
# source: mean fraction and the share of docs with >=50% duplicated
# blocks (the usual drop threshold). Scale shape: block hashing is
# map-side; the only shuffle is the block-hash groupBy whose fan-in is
# bounded the same way the shingle index is (a viral block counts once
# per doc via per-doc distinct).
# ---------------------------------------------------------------------------

_PARA_K = 10

_DUP_PARA_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
blocks AS (
  SELECT doc_id, source,
         unnest(list_transform(range(0, CAST(floor(len(t) / {_PARA_K}) AS BIGINT)),
                i -> list_aggregate(t[i * {_PARA_K} + 1 : (i + 1) * {_PARA_K}],
                                    'string_agg', ' '))) AS block
  FROM toks
  WHERE len(t) >= {_PARA_K}
),
per_block AS (
  SELECT DISTINCT doc_id, source, block FROM blocks
),
block_docs AS (
  SELECT block, count(*) AS n_docs_with FROM per_block GROUP BY block
),
per_doc AS (
  SELECT p.doc_id, p.source,
         count(*) AS n_blocks,
         sum(CASE WHEN bd.n_docs_with > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM per_block p JOIN block_docs bd ON bd.block = p.block
  GROUP BY p.doc_id, p.source
)
SELECT source,
       count(*) AS n_docs,
       -- integer-only mean: per-doc e6 fraction floored FIRST, then an
       -- integer-sum mean — no float accumulation order anywhere
       CAST(sum(n_dup * 1000000 // n_blocks) // count(*) AS BIGINT)
         AS mean_dup_frac_e6,
       CAST(sum(CASE WHEN n_dup * 2 >= n_blocks THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_half_dup
FROM per_doc
GROUP BY source
"""


@register("q_dup_paragraph_fraction", oracle=_DUP_PARA_ORACLE)
def q_dup_paragraph_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= _PARA_K)
    exploded = toked.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(F.lit(0), F.floor(F.size("t") / _PARA_K).cast("long") - 1)
        ).alias("i"),
        "t",
    )
    block = F.concat_ws(
        " ",
        *[
            F.col("t")[(F.col("i") * _PARA_K + j).cast("int")]
            for j in range(_PARA_K)
        ],
    )
    per_block = (
        exploded.select("doc_id", "source", block.alias("block"))
        .repartition("block")
        .dropDuplicates(["doc_id", "source", "block"])
    )
    block_docs = per_block.groupBy("block").agg(
        F.count(F.lit(1)).alias("n_docs_with")
    )
    per_doc = (
        per_block.join(block_docs, "block")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum((F.col("n_docs_with") > 1).cast("long")).alias("n_dup"),
        )
    )
    # Per-doc e6 fraction floored FIRST (integer div), then an integer
    # mean — distributed accumulation order cannot flip the result.
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(n_dup * 1000000 div n_blocks) div count(*)")
        .cast("long")
        .alias("mean_dup_frac_e6"),
        F.sum((F.col("n_dup") * 2 >= F.col("n_blocks")).cast("long"))
        .cast("long")
        .alias("n_docs_half_dup"),
    )

# ---------------------------------------------------------------------------
# q_lsh_recall — the approximation MEASURED, not assumed: how many of
# the exact Jaccard>=threshold near-dup pairs does the 16-minhash /
# 8-band LSH candidate set actually contain (recall), and how much of
# the candidate set is noise (precision)? This is the tuning loop for
# band/row counts on a new corpus — run q_lsh_recall, adjust, re-run —
# promoted from a pytest invariant to a first-class audited metric.
# Both pair sets come from the session-cached indexes the dedup family
# already builds; the comparison is two tiny joins over pair keys. All
# ratios integer e6 (floor), single summary row.
# ---------------------------------------------------------------------------

_LSH_RECALL_ORACLE = f"""
{{shingles}},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  -- mirror the Spark side's hot-shingle posting-list cap so the two
  -- definitions stay identical at ANY scale (ADVICE r6)
  WHERE a.shingle IN (SELECT shingle FROM sh
                      GROUP BY shingle
                      HAVING count(DISTINCT doc_id) <= {_HOT_SHINGLE_CAP})
  GROUP BY 1, 2
),
exact_pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE c.n_common * 1.0 / (sa.sz + sb.sz - c.n_common) >= {{threshold}}
),
{_HASHES_SQL}
bands AS (
  SELECT doc_id, i // 2 AS band, md5(string_agg(mh, '' ORDER BY i)) AS band_hash
  FROM hashes GROUP BY doc_id, i // 2
),
lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
common AS (
  SELECT e.doc_a, e.doc_b FROM exact_pairs e
  JOIN lsh_pairs l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
)
SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
       (SELECT count(*) FROM lsh_pairs)   AS n_candidates,
       (SELECT count(*) FROM common)      AS n_common,
       CAST((SELECT count(*) FROM common) * 1000000
            // greatest((SELECT count(*) FROM exact_pairs), 1) AS BIGINT)
         AS recall_e6,
       CAST((SELECT count(*) FROM common) * 1000000
            // greatest((SELECT count(*) FROM lsh_pairs), 1) AS BIGINT)
         AS precision_e6
"""


def _lsh_recall_oracle() -> str:
    from data_ingestion_service_spark.operators.llm import (
        _NEAR_DEDUP_THRESHOLD,
    )
    from data_ingestion_service_spark.operators.llm_extended import _SHINGLE_SQL

    return _LSH_RECALL_ORACLE.format(
        shingles=_SHINGLE_SQL.strip().rstrip(), threshold=_NEAR_DEDUP_THRESHOLD
    )


@register("q_lsh_recall", oracle=_lsh_recall_oracle())
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.operators.llm_extended import (
        q_minhash_pairs,
    )

    exact = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lsh = q_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b").distinct()
    common = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_common = common.count()
    row = [
        (
            n_exact,
            n_lsh,
            n_common,
            n_common * 1_000_000 // max(n_exact, 1),
            n_common * 1_000_000 // max(n_lsh, 1),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_exact bigint, n_candidates bigint, n_common bigint, "
        "recall_e6 bigint, precision_e6 bigint",
    )

# ---------------------------------------------------------------------------
# q_dedup_best_survivor — quality-ranked survivor selection: real
# pipelines keep each duplicate cluster's BEST copy, not its first —
# the min-id rule (q_near_dedup_survivors) silently prefers whatever
# crawled earliest, which for boilerplate-heavy families is often the
# worst copy. Survivor = argmax (distinct-token count, total tokens,
# -doc_id) per cluster — a quality proxy computable in the same scan.
# One window over rep_id (cluster sizes are bounded by construction);
# reports per source how many survivors CHANGED versus the min-id rule
# — the decision-diff a pipeline owner reviews before switching rules.
# ---------------------------------------------------------------------------

_BEST_SURVIVOR_ORACLE = (
    "WITH comp_full AS MATERIALIZED ("
    + _DUP_CLUSTERS_ORACLE
    + """),
feat AS (
  SELECT c.doc_id, c.rep_id, d.source,
         len(list_distinct(string_split(d.text, ' '))) AS n_uniq,
         len(string_split(d.text, ' ')) AS n_tok
  FROM comp_full c JOIN documents d ON d.doc_id = c.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY rep_id
           ORDER BY n_uniq DESC, n_tok DESC, doc_id) AS rn
  FROM feat
)
SELECT source,
       count(*) AS n_clusters_won,
       CAST(sum(n_tok) AS BIGINT) AS surviving_tokens,
       CAST(sum(CASE WHEN doc_id <> rep_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed_vs_min_id
FROM ranked
WHERE rn = 1
GROUP BY source
"""
)


@register("q_dedup_best_survivor", oracle=_BEST_SURVIVOR_ORACLE)
def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Action-census note (VERDICT r10 item 5): the recorded 22 jobs are
    # the COLD build of the shared dup-cluster label store (the bench
    # census pass is this key's first store access); once the store is
    # warm the key itself is 5 jobs (AQE stages of one join + one window
    # + one groupBy — measured r11, census-profile run). The store build
    # is shared with q_dup_clusters/q_dedup_waterfall and amortizes
    # across the family, so there is no per-key fold left to make.
    comp = q_dup_clusters(spark, sf_dir).select("doc_id", "rep_id")
    t = F.split("text", " ")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.array_distinct(t)).alias("n_uniq"),
        F.size(t).alias("n_tok"),
    )
    feat = comp.join(docs, "doc_id")
    w = Window.partitionBy("rep_id").orderBy(
        F.desc("n_uniq"), F.desc("n_tok"), F.asc("doc_id")
    )
    best = feat.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return best.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clusters_won"),
        F.sum("n_tok").cast("long").alias("surviving_tokens"),
        F.sum((F.col("doc_id") != F.col("rep_id")).cast("long"))
        .cast("long")
        .alias("n_changed_vs_min_id"),
    )

# ---------------------------------------------------------------------------
# q_dedup_waterfall — the pipeline waterfall every data team tracks:
# one row showing corpus size shrinking through the cleaning stages —
# raw docs → exact-unique texts → substring-clean exact reps (the Lee et
# al. exact-substring tier via q_substring_dup's fingerprint pairs) →
# near-dup cluster survivors (min-id) → survivors that are also free of
# test-set 8-gram contamination — with integer e6 retention ratios.
# substring_keep_e6 and near_keep_e6 are both measured against the
# exact-unique stage (the substring and shingle tiers audit the same
# base from two angles; neither is a subset of the other). Every stage
# reuses an already-verified operator's semantics (exact dedup,
# substring fingerprint pairs, connected-component survivors, n-gram
# decontamination), so this key certifies their COMPOSITION: the
# numbers a run report would publish.
# ---------------------------------------------------------------------------

_WATERFALL_ORACLE = (
    "WITH comp_full AS MATERIALIZED ("
    + _DUP_CLUSTERS_ORACLE
    + f"""),
{_WINDOW_HASH_CTE.strip()},
{_SUBDUP_PAIRS_CTE.strip()},
exact_reps AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
sub_kept AS (
  SELECT doc_id FROM exact_reps
  WHERE doc_id NOT IN (SELECT doc_b FROM sub_pairs)
),
survivors AS (
  SELECT c.doc_id FROM comp_full c WHERE c.rep_id = c.doc_id
),
tok2 AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS is_train
  FROM documents
),
grams2 AS (
  SELECT doc_id, is_train,
         unnest(list_transform(range(1, len(t) - {_NGRAM_DECON_K} + 2),
                i -> list_aggregate(t[i : i + {_NGRAM_DECON_K} - 1],
                                    'string_agg', ' '))) AS g
  FROM tok2 WHERE len(t) >= {_NGRAM_DECON_K}
),
test_g AS (SELECT DISTINCT g FROM grams2 WHERE NOT is_train),
contaminated AS (
  SELECT DISTINCT gr.doc_id
  FROM grams2 gr JOIN test_g te ON te.g = gr.g
  WHERE gr.is_train
),
counts AS (
  SELECT
    (SELECT count(*) FROM documents) AS n_raw,
    (SELECT count(DISTINCT md5(text)) FROM documents) AS n_exact_unique,
    (SELECT count(*) FROM sub_kept) AS n_substring_kept,
    (SELECT count(*) FROM survivors) AS n_near_survivors,
    (SELECT count(*) FROM survivors s
       JOIN tok2 t ON t.doc_id = s.doc_id
      WHERE NOT t.is_train
         OR s.doc_id NOT IN (SELECT doc_id FROM contaminated))
      AS n_clean
)
SELECT n_raw, n_exact_unique, n_substring_kept, n_near_survivors, n_clean,
       CAST(n_exact_unique * 1000000 // n_raw AS BIGINT) AS exact_keep_e6,
       CAST(n_substring_kept * 1000000 // n_exact_unique AS BIGINT)
         AS substring_keep_e6,
       CAST(n_near_survivors * 1000000 // n_exact_unique AS BIGINT)
         AS near_keep_e6,
       CAST(n_clean * 1000000 // n_near_survivors AS BIGINT) AS clean_keep_e6
FROM counts
"""
)


@register("q_dedup_waterfall", oracle=_WATERFALL_ORACLE)
def q_dedup_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Action-census note (VERDICT r10 item 5): steady-state 22 jobs
    # (r11-measured; was 24 before the shared-md5-groupBy fold below).
    # This is ONE collect() action — the count is AQE materializing each
    # exchange of the five-tier cascade as its own job: the md5 groupBy,
    # the substring anti-join, the cluster-survivor filter, and the
    # 8-gram contamination branch (two shuffles + semi-join + distinct —
    # k=8, so it cannot reuse the family's 3-shingle store), plus one
    # broadcast job per 1-row tier aggregate feeding the crossJoin.
    # Every exchange is a distinct tier the returned row reports;
    # folding tiers further would change what the key verifies. AQE
    # stage jobs share one analyzed plan (no per-job py4j/analysis
    # overhead — the r9 fix removed the 5 eager driver actions, which
    # were the expensive kind).
    docs = load_table(spark, sf_dir, "documents")
    # r9 action-census fix: the five tier counts used to be five eager
    # .count() actions + driver-side ratio math (5 x the per-action
    # scheduling floor). They are now five 1-row aggregates crossJoined
    # into ONE lazy plan — same cascade, one action, ratios computed as
    # integer-div columns (identical floor-division semantics on
    # positive counts).
    # ONE md5 groupBy feeds three outputs (r11 action-census cut): the
    # representative set, n_raw (= sum of per-hash copy counts — same
    # value as count(*) over docs), and n_exact_unique (= group count —
    # same value as countDistinct(md5)). Formerly three separate scans
    # of documents with two extra shuffles; values and hashes are
    # identical by construction.
    exact_groups = (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    raw_exact = exact_groups.agg(
        F.sum("n_copies").cast("long").alias("n_raw"),
        F.count(F.lit(1)).alias("n_exact_unique"),
    )
    # Substring rung (Lee et al. exact-substring tier): exact-dedup
    # representatives that do NOT contain a span already seen in an
    # earlier doc (= never the doc_b of a qualifying fingerprint pair).
    exact_reps = exact_groups.select("doc_id")
    sub_dropped = substring_dup_pairs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    )
    n_sub_kept = exact_reps.join(sub_dropped, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_substring_kept")
    )
    comp = q_dup_clusters(spark, sf_dir).select("doc_id", "rep_id")
    survivors = comp.filter(F.col("rep_id") == F.col("doc_id")).select("doc_id")
    n_surv = survivors.agg(F.count(F.lit(1)).alias("n_near_survivors"))
    is_train = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        < "c"
    )
    tagged = docs.select("doc_id", is_train.alias("is_train"))
    grams = shingle_rows(docs, _NGRAM_DECON_K).join(tagged, "doc_id")
    test_g = (
        grams.filter(~F.col("is_train")).select(F.col("shingle").alias("g")).distinct()
    )
    contaminated = (
        grams.filter(F.col("is_train"))
        .select("doc_id", F.col("shingle").alias("g"))
        .join(test_g, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = (
        survivors.join(tagged, "doc_id")
        .join(contaminated.withColumn("bad", F.lit(1)), "doc_id", "left")
        .filter(~F.col("is_train") | F.col("bad").isNull())
    )
    n_clean = clean.agg(F.count(F.lit(1)).alias("n_clean"))
    return (
        raw_exact.crossJoin(F.broadcast(n_sub_kept))
        .crossJoin(F.broadcast(n_surv))
        .crossJoin(F.broadcast(n_clean))
        .select(
            "n_raw",
            "n_exact_unique",
            "n_substring_kept",
            "n_near_survivors",
            "n_clean",
            F.expr("n_exact_unique * 1000000L div n_raw").alias("exact_keep_e6"),
            F.expr("n_substring_kept * 1000000L div n_exact_unique").alias(
                "substring_keep_e6"
            ),
            F.expr("n_near_survivors * 1000000L div n_exact_unique").alias(
                "near_keep_e6"
            ),
            F.expr("n_clean * 1000000L div n_near_survivors").alias(
                "clean_keep_e6"
            ),
        )
    )

# ---------------------------------------------------------------------------
# q_split_leakage — EXACT cross-split leakage: identical document texts
# appearing in BOTH train and test — the bluntest and most common
# evaluation leak (a duplicated page whose copies hashed to different
# splits). Complements q_ngram_decontaminate (partial overlap) and
# q_contamination_check (near-dup overlap): this is the exact-match
# tier of the same audit. One md5-digest aggregation — text never
# shuffles — then a conditional rollup.
# ---------------------------------------------------------------------------

_SPLIT_LEAK_ORACLE = """
WITH tagged AS (
  SELECT md5(text) AS h,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS is_train
  FROM documents
),
per_text AS (
  SELECT h,
         CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
         CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS n_te
  FROM tagged GROUP BY h
)
SELECT count(*) AS n_distinct_texts,
       CAST(sum(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked_texts,
       CAST(sum(CASE WHEN n_tr > 0 AND n_te > 0 THEN n_tr ELSE 0 END)
         AS BIGINT) AS n_train_docs_leaking,
       CAST(sum(CASE WHEN n_tr > 0 AND n_te > 0 THEN n_te ELSE 0 END)
         AS BIGINT) AS n_test_docs_exposed
FROM per_text
"""


@register("q_split_leakage", oracle=_SPLIT_LEAK_ORACLE)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_train = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        < "c"
    )
    per_text = (
        docs.select(
            F.md5(F.col("text").cast("binary")).alias("h"),
            is_train.cast("long").alias("it"),
        )
        .groupBy("h")
        .agg(
            F.sum("it").cast("long").alias("n_tr"),
            (F.count(F.lit(1)) - F.sum("it")).cast("long").alias("n_te"),
        )
    )
    leaked = (F.col("n_tr") > 0) & (F.col("n_te") > 0)
    return per_text.agg(
        F.count(F.lit(1)).alias("n_distinct_texts"),
        F.sum(leaked.cast("long")).cast("long").alias("n_leaked_texts"),
        F.sum(F.when(leaked, F.col("n_tr")).otherwise(0))
        .cast("long")
        .alias("n_train_docs_leaking"),
        F.sum(F.when(leaked, F.col("n_te")).otherwise(0))
        .cast("long")
        .alias("n_test_docs_exposed"),
    )

# ---------------------------------------------------------------------------
# q_semdedup — SemDeDup (Abbas et al.): semantic deduplication by
# clustering the embedding space and removing near-duplicates WITHIN
# each cluster — the cross-cluster blindness is the technique's own
# documented approximation (clusters scale with corpus size, so
# within-cluster work stays constant per cluster). Cells here are the
# deterministic 4-plane sign-LSH buckets (q_knn_lsh's construction);
# the qualifying cosine pairs come from q_embed_near_dup's verified
# pruned-block-matmul engine (exact, threshold 0.45), so this key adds
# the SemDeDup decision layer: within a cell, every vector with a
# lower-id partner above threshold is dropped (keep-first). Reports
# per-cell corpus reduction. Scale shape: the pair list is the
# result-sized embed_near_dup_pairs session store and broadcasts through
# the two bucket joins; the bucket signature is a map-only pass. At production scale cells come from k-means with
# k ∝ N (q_knn_ivf_kmeans shows the assignment pass).
# ---------------------------------------------------------------------------

_SEMDEDUP_ORACLE = f"""
WITH ep AS ({_EMBED_NEAR_DUP_ORACLE}),
sigs AS (
  SELECT vec_id,
         {" + ".join(f"(CASE WHEN {_sql_proj(p)} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(_LSH_PLANES))}
           AS bucket
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
),
dropped AS (
  SELECT DISTINCT ep.vec_b AS vec_id
  FROM ep
  JOIN sigs sa ON sa.vec_id = ep.vec_a
  JOIN sigs sb ON sb.vec_id = ep.vec_b
  WHERE sa.bucket = sb.bucket
)
SELECT s.bucket,
       count(*) AS n_vecs,
       CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM sigs s LEFT JOIN dropped d ON d.vec_id = s.vec_id
GROUP BY s.bucket
"""


@register("q_semdedup", oracle=_SEMDEDUP_ORACLE)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Corpus-sized signature pass via the shared Arrow kernel. sigs has
    # three consumers (both bucket lookups and the report rollup);
    # unpersisted, the kernel would run once per consumer. Persist it for
    # the action: two ints per vector. The pair list is a session store.
    sigs = call_persisted(_lsh_sigs_arrow(emb).select("vec_id", "bucket"))
    pairs = embed_near_dup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    sa = sigs.select(F.col("vec_id").alias("vec_a"), F.col("bucket").alias("b_a"))
    sb = sigs.select(F.col("vec_id").alias("vec_b"), F.col("bucket").alias("b_b"))
    # Result-sized pair list broadcasts through both bucket lookups; the
    # corpus-sized signature table never moves.
    pa = sa.join(F.broadcast(pairs), "vec_a")
    dropped = (
        sb.join(F.broadcast(pa), "vec_b")
        .filter(F.col("b_a") == F.col("b_b"))
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    flagged = sigs.join(
        dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left"
    )
    return flagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("is_dropped").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(F.col("is_dropped").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
    )

# ---------------------------------------------------------------------------
# q_winnowing_select — actual winnowing fingerprint SELECTION (Schleimer
# et al., MOSS): q_rolling_hash computes every window's Karp-Rabin hash;
# winnowing then keeps only the MINIMUM hash of each sliding window of
# w=4 consecutive window positions, guaranteeing at least one shared
# fingerprint for any match of length >= w+k-1 tokens while storing a
# ~2/(w+1) fraction of hashes — the standard way a 100 TB substring
# index stays sub-corpus-sized. Per-doc windowed min (window partitioned
# by doc_id — embarrassingly parallel across docs, no cross-doc
# shuffle), then the distinct selected set per doc. Both engines run the
# identical ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING frame over the
# identical integer hashes.
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # window positions per winnowing frame

_WINNOWING_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
h AS (
  SELECT doc_id,
         list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT
                                  % {_RH_M}) AS ha,
         len(t) AS n
  FROM toks WHERE len(t) >= {_RH_K}
),
w AS (
  SELECT doc_id, s.i AS i, s.wh AS wh
  FROM h, unnest(list_transform(range(1, n - {_RH_K - 2}),
    i -> {{'i': i,
          'wh': ((((ha[i] * {_RH_B} + ha[i+1]) % {_RH_P}) * {_RH_B} + ha[i+2])
                 % {_RH_P} * {_RH_B} + ha[i+3]) % {_RH_P}}})) AS u(s)
),
framed AS (
  SELECT doc_id, i,
         min(wh) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
           AS wmin,
         count(*) OVER (PARTITION BY doc_id) AS n_windows
  FROM w
),
full_frames AS (
  -- 1-based i: frame [i, i+3] fits iff i + 3 <= n_windows
  SELECT doc_id, wmin FROM framed WHERE i <= n_windows - {_WINNOW_W - 1}
)
SELECT doc_id,
       count(*) AS n_frames,
       count(DISTINCT wmin) AS n_fingerprints,
       min(wmin) AS fp_min
FROM full_frames
GROUP BY doc_id
"""


@register("q_winnowing_select", oracle=_WINNOWING_ORACLE)
def q_winnowing_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    rows = window_hash_rows(docs)
    # Spark positions are 0-based (oracle's 1-based): the frame content
    # is shift-invariant, so both engines select identical hash sets.
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    per_doc = Window.partitionBy("doc_id")
    framed = rows.select(
        "doc_id",
        "i",
        F.min("wh").over(frame).alias("wmin"),
        F.count(F.lit(1)).over(per_doc).alias("n_windows"),
    )
    full = framed.filter(F.col("i") <= F.col("n_windows") - _WINNOW_W)
    return full.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("wmin").alias("n_fingerprints"),
        F.min("wmin").alias("fp_min"),
    )

# ---------------------------------------------------------------------------
# q_cross_source_leak — provenance audit: duplicated content FLOWING
# BETWEEN sources (syndicated/boilerplate material a per-source dedup
# would miss, and double-counted provenance in the data card's source
# mix). Per unordered source pair, two tiers of the same audit: exact —
# md5-identical texts present in both sources — and near — Jaccard
# near-dup pairs (the shared pair index) whose endpoints live in
# different sources. One digest aggregation plus a pair-index join;
# text never shuffles, and the near tier broadcasts the result-sized
# pair list into the (doc_id, source) projection.
# ---------------------------------------------------------------------------

_CROSS_SOURCE_ORACLE = (
    "WITH nd AS MATERIALIZED ("
    + _NEAR_DEDUP_ORACLE
    + """),
np AS (
  SELECT least(da.source, db.source) AS source_lo,
         greatest(da.source, db.source) AS source_hi,
         count(*) AS n_near_pairs
  FROM nd
  JOIN documents da ON da.doc_id = nd.doc_a
  JOIN documents db ON db.doc_id = nd.doc_b
  WHERE da.source <> db.source
  GROUP BY 1, 2
),
ds AS (SELECT DISTINCT md5(text) AS h, source FROM documents),
ep AS (
  SELECT a.source AS source_lo, b.source AS source_hi,
         count(*) AS n_exact_texts
  FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT coalesce(np.source_lo, ep.source_lo) AS source_lo,
       coalesce(np.source_hi, ep.source_hi) AS source_hi,
       CAST(coalesce(n_near_pairs, 0) AS BIGINT) AS n_near_pairs,
       CAST(coalesce(n_exact_texts, 0) AS BIGINT) AS n_exact_texts
FROM np
FULL OUTER JOIN ep
  ON ep.source_lo = np.source_lo AND ep.source_hi = np.source_hi
"""
)


@register("q_cross_source_leak", oracle=_CROSS_SOURCE_ORACLE)
def q_cross_source_leak(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    src = docs.select("doc_id", "source")
    pairs = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sa = src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "source", "src_a"
    )
    sb = src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "source", "src_b"
    )
    with_a = sa.join(F.broadcast(pairs), "doc_a")
    np_df = (
        sb.join(F.broadcast(with_a), "doc_b")
        .filter(F.col("src_a") != F.col("src_b"))
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_near_pairs"))
    )
    ds = docs.select(
        F.md5(F.col("text").cast("binary")).alias("h"), "source"
    ).distinct()
    ep_df = (
        ds.alias("a")
        .join(
            ds.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("source_lo"),
            F.col("b.source").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_exact_texts"))
    )
    joined = np_df.alias("np").join(
        ep_df.alias("ep"),
        (F.col("np.source_lo") == F.col("ep.source_lo"))
        & (F.col("np.source_hi") == F.col("ep.source_hi")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("np.source_lo"), F.col("ep.source_lo")).alias(
            "source_lo"
        ),
        F.coalesce(F.col("np.source_hi"), F.col("ep.source_hi")).alias(
            "source_hi"
        ),
        F.coalesce(F.col("n_near_pairs"), F.lit(0))
        .cast("bigint")
        .alias("n_near_pairs"),
        F.coalesce(F.col("n_exact_texts"), F.lit(0))
        .cast("bigint")
        .alias("n_exact_texts"),
    )

# ---------------------------------------------------------------------------
# q_dedup_incremental — INCREMENTAL admission dedup: the production
# shape at 100 TB is never "re-dedup the whole corpus", it is "admit
# today's batch against the historical index". Incoming docs (hash
# split, ~19%) are checked against the historical majority in two
# tiers: exact (md5 digest membership — a semi-join against the digest
# index) and near (the shared Jaccard pair index, filtered to
# historical↔incoming pairs). Per source: incoming volume, drops per
# tier (exact wins when both fire), admissions. Every structure probed
# here is the one the batch pipeline already maintains — the marginal
# cost of admission is two result-sized joins, not a corpus re-scan.
# ---------------------------------------------------------------------------

_INCR_ORACLE = (
    "WITH nd AS MATERIALIZED ("
    + _NEAR_DEDUP_ORACLE
    + """),
tagged AS (
  SELECT doc_id, source, md5(text) AS h,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'd' AS is_incoming
  FROM documents
),
hist_digests AS (SELECT DISTINCT h FROM tagged WHERE NOT is_incoming),
near_dropped AS (
  SELECT DISTINCT t.doc_id
  FROM tagged t
  JOIN (SELECT doc_a AS x, doc_b AS y FROM nd
        UNION ALL SELECT doc_b, doc_a FROM nd) p ON p.x = t.doc_id
  JOIN tagged o ON o.doc_id = p.y
  WHERE t.is_incoming AND NOT o.is_incoming
),
verdicts AS (
  SELECT t.source,
         CASE WHEN t.h IN (SELECT h FROM hist_digests) THEN 'exact'
              WHEN t.doc_id IN (SELECT doc_id FROM near_dropped) THEN 'near'
              ELSE 'admit' END AS verdict
  FROM tagged t WHERE t.is_incoming
)
SELECT source,
       count(*) AS n_incoming,
       CAST(sum(CASE WHEN verdict = 'exact' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_exact,
       CAST(sum(CASE WHEN verdict = 'near' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_near,
       CAST(sum(CASE WHEN verdict = 'admit' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted
FROM verdicts
GROUP BY source
"""
)


@register("q_dedup_incremental", oracle=_INCR_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_incoming = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        >= "d"
    )
    tagged = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        is_incoming.alias("is_incoming"),
    )
    hist_digests = (
        tagged.filter(~F.col("is_incoming")).select("h").distinct()
    )
    pairs = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    directed = pairs.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
    ).unionAll(pairs.select(F.col("doc_b").alias("x"), F.col("doc_a").alias("y")))
    flags = tagged.select("doc_id", "is_incoming")
    near_dropped = (
        directed.join(
            flags.withColumnRenamed("doc_id", "x").withColumnRenamed(
                "is_incoming", "in_x"
            ),
            "x",
        )
        .join(
            flags.withColumnRenamed("doc_id", "y").withColumnRenamed(
                "is_incoming", "in_y"
            ),
            "y",
        )
        .filter(F.col("in_x") & ~F.col("in_y"))
        .select(F.col("x").alias("doc_id"))
        .distinct()
    )
    incoming = tagged.filter(F.col("is_incoming"))
    # Digest semi-join carries only (h); the near-drop list is result-
    # sized and broadcast.
    exact_hit = incoming.join(
        hist_digests.withColumn("exact_hit", F.lit(1)), "h", "left"
    )
    both = exact_hit.join(
        F.broadcast(near_dropped.withColumn("near_hit", F.lit(1))),
        "doc_id",
        "left",
    )
    verdict = (
        F.when(F.col("exact_hit").isNotNull(), "exact")
        .when(F.col("near_hit").isNotNull(), "near")
        .otherwise("admit")
    )
    return (
        both.select("source", verdict.alias("verdict"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_incoming"),
            F.sum((F.col("verdict") == "exact").cast("long"))
            .cast("long")
            .alias("n_dropped_exact"),
            F.sum((F.col("verdict") == "near").cast("long"))
            .cast("long")
            .alias("n_dropped_near"),
            F.sum((F.col("verdict") == "admit").cast("long"))
            .cast("long")
            .alias("n_admitted"),
        )
    )

# ---------------------------------------------------------------------------
# q_dedup_threshold_sweep — the near-dedup THRESHOLD TUNING table: for
# nine Jaccard thresholds (0.1 … 0.9), how many candidate pairs and how
# many distinct documents the near-dup stage would touch. Production
# dedup thresholds are picked from exactly this sweep (too low → mass
# false-merging, too high → misses mutations); shipping it as data
# turns the 0.25 constant in q_near_dedup from folklore into a read-off
# of a measured curve.
#
# Exactness: the threshold test is PURE INTEGER — a pair passes t iff
# n_common * 10000 >= t_e4 * (sz_a + sz_b - n_common) — so no float
# jaccard is ever compared; counts are exact BIGINTs.
#
# Scale: pairs come from the same capped posting-list expansion as
# q_near_dedup (the _HOT_SHINGLE_CAP guard bounds the k² blow-up), the
# 9-row threshold dimension is broadcast, and the doc-touch count
# reduces (threshold, doc) pairs — 18× the pair table at most, never
# corpus-shaped. The shingle base comes from the session-persisted
# doc_shingles store (shared with the whole dedup family).
# ---------------------------------------------------------------------------

_SWEEP_THRESHOLDS_E4 = list(range(1000, 10000, 1000))

# The shared scored_pairs store is persisted pre-filtered at the
# family's minimum threshold; a sweep rung below it would silently
# read a truncated store.
from data_ingestion_service_spark.operators.llm import (  # noqa: E402
    _SCORED_PAIRS_MIN_T_E4 as _STORE_FLOOR_E4,
)

# Explicit raise, not a bare `assert` (which python -O strips): reading
# past the persist floor would silently truncate every rung below it.
if min(_SWEEP_THRESHOLDS_E4) < _STORE_FLOOR_E4:
    raise ValueError(
        "q_dedup_threshold_sweep's lowest rung "
        f"({min(_SWEEP_THRESHOLDS_E4)}) is below the scored_pairs "
        f"persist floor ({_STORE_FLOOR_E4}) — LOWER "
        "llm._SCORED_PAIRS_MIN_T_E4 to the new minimum (or raise the "
        "rung); the store is persisted pre-filtered at the floor"
    )

_SWEEP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
    WHERE len(t) >= 3
  )
),
sizes AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
),
pairs AS MATERIALIZED (
  SELECT p.doc_a, p.doc_b, p.n_common, sa.sz AS sz_a, sb.sz AS sz_b
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  -- mirror the Spark side's hot-shingle posting-list cap so the two
  -- definitions stay identical at ANY scale (ADVICE r6)
  WHERE a.shingle IN (SELECT shingle FROM sh
                      GROUP BY shingle
                      HAVING count(DISTINCT doc_id) <= {_HOT_SHINGLE_CAP})
    GROUP BY 1, 2
  ) p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
),
th AS (SELECT unnest({_SWEEP_THRESHOLDS_E4}) AS t_e4),
hits AS MATERIALIZED (
  SELECT th.t_e4, p.doc_a, p.doc_b
  FROM pairs p CROSS JOIN th
  WHERE p.n_common * 10000 >= th.t_e4 * (p.sz_a + p.sz_b - p.n_common)
)
SELECT h.t_e4,
       CAST(count(*) AS BIGINT) AS n_pairs,
       (SELECT CAST(count(DISTINCT d) AS BIGINT)
        FROM (SELECT doc_a AS d FROM hits h2 WHERE h2.t_e4 = h.t_e4
              UNION ALL
              SELECT doc_b AS d FROM hits h2 WHERE h2.t_e4 = h.t_e4))
         AS n_docs_touched
FROM hits h
GROUP BY 1
"""


@register("q_dedup_threshold_sweep", oracle=_SWEEP_ORACLE)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.operators.llm import scored_pairs

    scored = scored_pairs(spark, sf_dir)
    th = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS_E4])
    ).alias("t_e4")
    hits = (
        scored.select("doc_a", "doc_b", "n_common", "sz_a", "sz_b", th)
        .filter(
            F.col("n_common") * 10000
            >= F.col("t_e4")
            * (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
        )
        .select("t_e4", "doc_a", "doc_b")
    )
    n_pairs = hits.groupBy("t_e4").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    n_docs = (
        hits.select(
            "t_e4", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("t_e4")
        .agg(F.countDistinct("d").cast("bigint").alias("n_docs_touched"))
    )
    return n_pairs.join(n_docs, "t_e4")

# ---------------------------------------------------------------------------
# q_dup_quality_bias — does duplication correlate with quality? Every
# doc is assigned its dedup tier — 'exact' (shares a full-text digest),
# else 'near' (member of a shingle-Jaccard ≥ 0.25 pair), else 'unique'
# — and each tier reports doc count and mean quality score. The
# question decides WHERE the quality filter runs in the waterfall: if
# dups skew low-quality, dedup-first wastes quality-scoring compute on
# doomed docs; if they don't, order is free. A real mix-owner question
# answered by joining two existing families (dedup stores × quality
# score) — no new corpus passes.
#
# Exactness: tier assignment is exact set membership with fixed
# precedence (exact > near > unique); the mean is an integer division
# of exact e4 score sums.
#
# Scale: digest groups are one reduce; near members come from the
# session-persisted scored_pairs store (near-dup-density-sized,
# broadcast); the score is a map-side expression on the one doc scan.
# ---------------------------------------------------------------------------

_DUP_QUALITY_ORACLE = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, md5(text) AS digest,
         n_chars * 10000 // len(string_split(text, ' ')) AS score_e4
  FROM documents
),
dup_digests AS (
  SELECT digest FROM d GROUP BY digest HAVING count(*) >= 2
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    WHERE len(t) >= 3
  )
),
sizes AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1
),
np AS MATERIALIZED (
  SELECT p.doc_a, p.doc_b
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  -- mirror the Spark side's hot-shingle posting-list cap so the two
  -- definitions stay identical at ANY scale (ADVICE r6)
  WHERE a.shingle IN (SELECT shingle FROM sh
                      GROUP BY shingle
                      HAVING count(DISTINCT doc_id) <= {_HOT_SHINGLE_CAP})
    GROUP BY 1, 2
  ) p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE 4 * p.n_common >= sa.sz + sb.sz - p.n_common
),
near_members AS (
  SELECT DISTINCT m FROM (
    SELECT doc_a AS m FROM np UNION ALL SELECT doc_b FROM np
  )
)
SELECT CASE WHEN dd.digest IS NOT NULL THEN 'exact'
            WHEN nm.m IS NOT NULL THEN 'near'
            ELSE 'unique' END AS tier,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.score_e4) // count(*) AS BIGINT) AS mean_score_e4
FROM d
LEFT JOIN dup_digests dd ON dd.digest = d.digest
LEFT JOIN near_members nm ON nm.m = d.doc_id
GROUP BY 1
"""


@register("q_dup_quality_bias", oracle=_DUP_QUALITY_ORACLE)
def q_dup_quality_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.operators.llm import scored_pairs

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.expr("n_chars * 10000 div size(split(text, ' '))").alias(
            "score_e4"
        ),
    )
    dup_digests = (
        d.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("digest", F.lit(1).alias("is_exact"))
    )
    near = scored_pairs(spark, sf_dir).filter(
        4 * F.col("n_common")
        >= F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    near_members = (
        near.select(F.col("doc_a").alias("m"))
        .unionAll(near.select(F.col("doc_b").alias("m")))
        .distinct()
        .select("m", F.lit(1).alias("is_near"))
    )
    tier = (
        F.when(F.col("is_exact").isNotNull(), "exact")
        .when(F.col("is_near").isNotNull(), "near")
        .otherwise("unique")
    )
    return (
        d.join(F.broadcast(dup_digests), "digest", "left")
        .join(
            F.broadcast(near_members),
            d["doc_id"] == near_members["m"],
            "left",
        )
        .groupBy(tier.alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("cast(sum(score_e4) div count(*) as bigint)").alias(
                "mean_score_e4"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_cdc_chunks — content-defined chunking (the rsync/LBFS cut rule applied
# to token streams): a chunk boundary falls after any 4-token Karp-Rabin
# window whose hash ≡ 0 (mod 16), so chunk edges are decided by CONTENT,
# not offset — insert one token at the top of a re-crawled document and
# every downstream chunk digest still matches, which is exactly what
# fixed-stride chunking (q_doc_chunking) and fixed-window fingerprints
# cannot give you. This is the dedup tier for incremental re-crawls:
# shard N+1 of a corpus is admitted chunk-by-chunk against the digest
# store of shards 1..N, paying only for the genuinely new bytes.
#
# Per doc: chunks partition the token list (cut ends e = i+K-1 for every
# firing window, spans [prev_cut+1 .. cut], tail span closes at n);
# chunk digest = md5 of the space-joined token span; a chunk instance is
# "dup" when its digest occurs in ≥ 2 DISTINCT docs (within-doc repeats
# are not cross-doc dedupable and don't count). Output is docs-sized:
# n_chunks, n_dup_chunks, and the e4 fraction of the doc's tokens
# covered by dup chunks — the "bytes you would not re-store" number.
#
# Exactness: the window hash is the shared _RH_* construction (token
# md5 mod 2^20, base-131 fold mod 2^40 — all arithmetic in 48 bits);
# the cut rule is an integer mod; digests are md5 over identical joined
# strings in both engines; the fraction is an integer e4 division.
#
# Scale: window hashing is the map-only window_hash_rows pass; cuts
# reduce by doc_id (one shuffle) and rejoin the token arrays on the same
# key; digests shuffle once by digest for the distinct-doc count and
# join back result-sized. Nothing is all-pairs — a viral boilerplate
# chunk makes one hot digest GROUP (a count, not a pair expansion), and
# AQE's skew split handles the join back. At 100 TB the digest store is
# the persisted table and new shards semi-join against it.
# ---------------------------------------------------------------------------

_CDC_MOD = 16  # expected chunk length ~16 tokens + the 4-token window

_CDC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n
  FROM documents
  WHERE len(string_split(text, ' ')) >= {_RH_K}
),
h AS (
  SELECT doc_id, t, n,
         list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT
                                  % {_RH_M}) AS ha
  FROM toks
),
cuts AS (
  SELECT doc_id, t, n,
         list_sort(list_filter(
           list_transform(range(1, n - {_RH_K - 2}),
             i -> CASE WHEN ((((ha[i] * {_RH_B} + ha[i+1]) % {_RH_P})
                              * {_RH_B} + ha[i+2]) % {_RH_P}
                              * {_RH_B} + ha[i+3]) % {_RH_P}
                            % {_CDC_MOD} = 0
                       THEN i + {_RH_K - 1} END),
           e -> e IS NOT NULL AND e < n)) AS ends
  FROM h
),
spans AS (
  SELECT doc_id, t, n,
         unnest(list_transform(range(1, len(ends) + 2),
           k -> struct_pack(
             s := CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END,
             e := CASE WHEN k = len(ends) + 1 THEN n ELSE ends[k] END)))
           AS sp
  FROM cuts
),
chunks AS (
  SELECT doc_id, n,
         md5(array_to_string(t[sp.s:sp.e], ' ')) AS digest,
         CAST(sp.e - sp.s + 1 AS BIGINT) AS tok_cnt
  FROM spans
),
shared AS (
  SELECT digest FROM chunks GROUP BY digest
  HAVING count(DISTINCT doc_id) >= 2
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN sh.digest IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN sh.digest IS NOT NULL THEN c.tok_cnt ELSE 0 END)
            * 10000 // max(c.n) AS BIGINT) AS dup_token_frac_e4
FROM chunks c
LEFT JOIN shared sh ON sh.digest = c.digest
GROUP BY c.doc_id
"""


@register("q_cdc_chunks", oracle=_CDC_ORACLE)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("t")).filter(
        F.size("t") >= _RH_K
    )
    # Cut positions: END (0-based) of every window whose hash fires the
    # mod rule; a cut at the final token is a no-op (the tail span closes
    # there anyway) and is excluded in BOTH engines.
    wrows = window_hash_rows(docs)
    cuts = (
        wrows.filter(F.col("wh") % _CDC_MOD == 0)
        .select("doc_id", (F.col("i") + _RH_K - 1).alias("e"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("e")).alias("ends"))
    )
    n = F.size("t")
    with_cuts = toked.join(cuts, "doc_id", "left").select(
        "doc_id",
        "t",
        n.alias("n"),
        F.coalesce(
            F.filter(F.col("ends"), lambda e: e < n - 1),
            F.array().cast("array<int>"),
        ).alias("ends"),
    )
    # spans: starts = [0] + [e+1 ...], ends = ends + [n-1] (0-based),
    # emitted as one array-HOF expansion (k = 0 .. len(ends)).
    k = F.explode(F.sequence(F.lit(0), F.size("ends")))
    spans = with_cuts.select(
        "doc_id", "t", "n", F.col("ends").alias("ends"), k.alias("k")
    ).select(
        "doc_id",
        "t",
        "n",
        F.when(F.col("k") == 0, F.lit(0))
        .otherwise(F.element_at("ends", F.col("k")) + 1)
        .alias("s"),
        F.when(F.col("k") == F.size("ends"), F.col("n") - 1)
        .otherwise(F.element_at("ends", F.col("k") + 1))
        .alias("e"),
    )
    chunks = spans.select(
        "doc_id",
        "n",
        F.md5(
            F.concat_ws(
                " ", F.slice("t", F.col("s") + 1, F.col("e") - F.col("s") + 1)
            ).cast("binary")
        ).alias("digest"),
        (F.col("e") - F.col("s") + 1).cast("bigint").alias("tok_cnt"),
    )
    # r11 optimization (guide §5): `chunks` has two consumers (the
    # shared-digest reduce and the probe side of the join back), so the
    # whole tokenize→window-hash→span→md5 pipeline ran twice per call.
    # Persist it for the action; the shared set stays a tiny broadcast.
    # (The join-free alternative — pre-aggregate to (doc_id, digest) and
    # take a count window over digest — measured WORSE here: it trades
    # the recompute for an un-reduced corpus-sized exchange + sort,
    # while this shape's only wide op is the partial-aggregated digest
    # reduce. Guide §2.3: aggregate before you shuffle.)
    chunks = call_persisted(chunks)
    shared = (
        chunks.groupBy("digest")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("digest", F.lit(1).alias("is_shared"))
    )
    # No broadcast hint (ADVICE r11): the shared-digest set grows with
    # corpus CONTENT (digests appearing in >= 2 docs), not a bounded
    # domain — a forced broadcast risks OOM at the 100 TB posture. AQE
    # sees the aggregate's true runtime size and still picks a broadcast
    # join whenever it is small (it is, at every tested tier — verified
    # in plans/r12/q_cdc_chunks_after.txt), and degrades to a shuffle
    # join instead of an OOM when it is not.
    return (
        chunks.join(shared, "digest", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("is_shared").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.expr(
                "cast(sum(CASE WHEN is_shared IS NOT NULL THEN tok_cnt"
                " ELSE 0 END) * 10000 div max(n) as bigint)"
            ).alias("dup_token_frac_e4"),
        )
    )
