"""MinHash + LSH near-duplicate detection — Arrow kernels with DuckDB
SQL twins.

Dataflow (shingle → minhash → band → bucket-join → exact-Jaccard verify):

1. word-trigram shingles, distinct, hashed to 60 bits (md5 — exactly
   reproducible in the DuckDB oracle);
2. H=32 minhash signature via universal hashing
   ``(a_i * (s mod 2^31) + b_i) mod P`` (P = 2^61-1; products stay under
   2^63 so ANSI overflow checking never fires);
3. 8 bands × 4 rows; band bucket key = hash60 of the joined band slice;
4. candidate pairs from a self-join on (band, bucket) — the only shuffle
   whose width matters at 100 TB; duplicate clusters are the skew hot
   spot and AQE skew-join splits them;
5. exact Jaccard on the shingle sets filters false positives.

Steps 1-3 run in the Arrow kernels :func:`_content_members` and
:func:`_bucket_rows` (per-document Python twins ``_doc_*_py``); the
band join and the verify are Spark joins.  Coefficients are frozen
(seeded) and inlined as literals, so the whole operator is
oracle-expressible in DuckDB.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..text.shared import (
    ascii_lower_sql,
    hash60_col,
    hash60_sql,
    trim_memo,
    words_sql,
)

NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS
MERSENNE_P = (1 << 61) - 1
_RNG = np.random.RandomState(1234)
COEF_A = [int(x) for x in _RNG.randint(1, 1 << 31, size=NUM_HASHES)]
COEF_B = [int(x) for x in _RNG.randint(0, 1 << 31, size=NUM_HASHES)]
_COEF_A_NP = np.asarray(COEF_A, dtype=np.int64)
_COEF_B_NP = np.asarray(COEF_B, dtype=np.int64)

#: repo root for the worker-side sys.path bootstrap (the Arrow kernels
#: below are nested closures calling these module-level helpers)
import os as _os  # noqa: E402

_PKG_ROOT = _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

#: cross-batch memo for the 60-bit md5 hash — shingles repeat heavily in
#: natural corpora (boilerplate, near-dups), so each worker pays md5 only
#: on first sight.  Bounded by shared.trim_memo, like text.fast._LOGP_MEMO.
_H60_MEMO: dict[str, int] = {}
_H60_MEMO_MAX = 1_000_000


def _h60(s: str) -> int:
    """Python twin of shared.hash60_col/_sql: int(md5(utf8)[:15], 16)."""
    v = _H60_MEMO.get(s)
    if v is None:
        import hashlib

        v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        _H60_MEMO[s] = v
        trim_memo(_H60_MEMO, _H60_MEMO_MAX)
    return v


def _doc_shingles_py(text: str) -> list[int] | None:
    """Distinct hashed word-trigram shingles of one doc — the exact
    kernel twin of :func:`shingles_sql` (and of :func:`shingles_from_words`
    over words_col(ascii_lower_col(text))): same tokenizer, same ``' '``
    gram join, same md5 hash60, first-occurrence distinct order.  None
    for docs with < 3 words (the members filter)."""
    from ..text.shared import ascii_lower_py, words_py

    words = words_py(ascii_lower_py(text))
    if len(words) < 3:
        return None
    hs = [
        _h60(words[i] + " " + words[i + 1] + " " + words[i + 2])
        for i in range(len(words) - 2)
    ]
    return list(dict.fromkeys(hs))


def _doc_sig_py(sh: list[int]) -> np.ndarray:
    """Minhash signature — integer-exact twin of
    :func:`minhash_signature_sql`: (a*(s mod 2^31)+b) mod P, min per
    hash function (products < 2^62, no int64 overflow)."""
    sm = np.asarray(sh, dtype=np.int64) % np.int64(1 << 31)
    mat = (sm[:, None] * _COEF_A_NP[None, :] + _COEF_B_NP[None, :]) % np.int64(
        MERSENNE_P
    )
    return mat.min(axis=0)


def _doc_buckets_py(sig: np.ndarray) -> list[int]:
    """Band bucket keys — twin of :func:`band_buckets_sql`:
    hash60('band,s1,s2,s3,s4')."""
    out = []
    for b in range(BANDS):
        lo = b * ROWS_PER_BAND
        out.append(
            _h60(
                str(b)
                + ","
                + ",".join(str(int(sig[lo + r])) for r in range(ROWS_PER_BAND))
            )
        )
    return out


def _set_key_py(sh: list[int]) -> int:
    """Twin of :func:`shingle_set_key_sql`: hash60 of the ascending
    sorted values comma-joined — the order-independent key of a
    shingle SET, used to collapse exact-duplicate content.  Docs whose
    shingle sets are equal have Jaccard exactly 1, so they are always
    near-duplicates at any threshold <= 1 and collapse to one
    representative before the band join (the reference's
    exact-duplicate-sets correction, knn_graph.py:492-566)."""
    return _h60(",".join(str(v) for v in sorted(sh)))


def shingles_from_words(w: Column, n: int = 3) -> Column:
    """Distinct hashed word n-gram shingles from a MATERIALISED words
    column (array<string>).  Callers on the hot path must materialise the
    words array first (``withColumn("_w", words_col(...))``): passing the
    split expression directly re-evaluates the whole tokenisation once per
    shingle under interpreted higher-order functions — O(len²) per doc
    (this cost 12s of a 14s run at sf0.1 before being hoisted)."""
    cnt = F.size(w)
    starts = F.sequence(F.lit(1), cnt - (n - 1))
    grams = F.transform(
        starts,
        lambda i: hash60_col(
            F.concat_ws(" ", *[F.element_at(w, i + off) for off in range(n)])
        ),
    )
    return F.when(cnt >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<bigint>")
    )


def shingles_sql(text: str, n: int = 3) -> str:
    w = words_sql(ascii_lower_sql(text))
    gram = " || ' ' || ".join(f"w[i+{off}]" for off in range(n))
    h = hash60_sql(f"({gram})")
    return (
        f"(SELECT CASE WHEN len(w) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len(w) - {n - 2}), i -> {h})) "
        f"ELSE []::BIGINT[] END FROM (SELECT {w} AS w))"
    )


def minhash_signature_sql(shingles: str) -> str:
    parts = [
        (
            f"CASE WHEN len(sh) = 0 THEN {MERSENNE_P} ELSE "
            f"list_min(list_transform(sh, s -> ({a} * (s % {1 << 31}) + {b}) % {MERSENNE_P})) END"
        )
        for a, b in zip(COEF_A, COEF_B)
    ]
    return f"(SELECT [{', '.join(parts)}] FROM (SELECT {shingles} AS sh))"


def band_buckets_sql(sig: str) -> str:
    keys = []
    for band in range(BANDS):
        lo = band * ROWS_PER_BAND
        parts = " || ',' || ".join(f"sg[{i + 1}]::VARCHAR" for i in range(lo, lo + ROWS_PER_BAND))
        keys.append(hash60_sql(f"('{band}' || ',' || {parts})"))
    return f"(SELECT [{', '.join(keys)}] FROM (SELECT {sig} AS sg))"


def jaccard_col(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def shingle_set_key_sql(sh: str) -> str:
    return hash60_sql(
        f"array_to_string(list_transform(list_sort({sh}), x -> x::VARCHAR), ',')"
    )


def _content_members(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """``(_id, _sh, _gk)`` for every doc with >= 1 shingle: _gk is the
    shingle-set collapse key.

    One Arrow kernel stage (tokenize → hash60 trigrams → distinct →
    set key), bit-identical to the ``mmem`` CTE of the DuckDB twin
    (words_py IS the engine tokenizer; same md5 hash60; same
    first-occurrence distinct; same sorted-join set key).  An
    interpreted Catalyst HOF chain for the same shingles re-evaluated
    per consumer subtree and cost ~10x the kernel per doc; null texts
    and docs with < 3 words are excluded."""
    from ..skew import ensure_parallelism

    id_type = dict(zip(df.columns, [f.dataType.simpleString() for f in df.schema]))[
        id_col
    ]
    src = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    )
    _pkg_root = _PKG_ROOT

    def run(batches):
        import sys as _sys

        import pandas as _pd

        if _pkg_root not in _sys.path:
            _sys.path.insert(0, _pkg_root)
        from sparkclean.dedup.minhash import _doc_shingles_py, _set_key_py

        for pdf in batches:
            pos, shs, gks = [], [], []
            texts = pdf["_t"]
            for i, t in enumerate(texts):
                if t is None:
                    continue
                sh = _doc_shingles_py(t)
                if sh is None:
                    continue
                pos.append(i)
                shs.append(sh)
                gks.append(_set_key_py(sh))
            yield _pd.DataFrame(
                {
                    "_id": pdf["_id"].iloc[pos].reset_index(drop=True),
                    "_sh": _pd.Series(shs, dtype=object),
                    "_gk": _pd.Series(gks, dtype="int64"),
                }
            )

    return src.mapInPandas(run, f"_id {id_type}, _sh array<bigint>, _gk bigint")


def _bucket_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(_id, _gk, _bucket)`` — BANDS rows per kept doc, the exploded
    LSH band-bucket keys.  Fuses shingle → signature → band keys into
    one Arrow kernel (integer-exact twins of minhash_signature_sql +
    band_buckets_sql); only scalars leave the stage, so the band join
    still carries ~16 bytes/row."""
    from ..skew import ensure_parallelism

    id_type = dict(zip(df.columns, [f.dataType.simpleString() for f in df.schema]))[
        id_col
    ]
    src = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    )
    _pkg_root = _PKG_ROOT

    def run(batches):
        import sys as _sys

        import pandas as _pd

        if _pkg_root not in _sys.path:
            _sys.path.insert(0, _pkg_root)
        from sparkclean.dedup.minhash import (
            BANDS,
            _doc_buckets_py,
            _doc_shingles_py,
            _doc_sig_py,
            _set_key_py,
        )

        for pdf in batches:
            pos, gks, bks = [], [], []
            texts = pdf["_t"]
            for i, t in enumerate(texts):
                if t is None:
                    continue
                sh = _doc_shingles_py(t)
                if sh is None:
                    continue
                sig = _doc_sig_py(sh)
                gk = _set_key_py(sh)
                pos.extend([i] * BANDS)
                gks.extend([gk] * BANDS)
                bks.extend(_doc_buckets_py(sig))
            yield _pd.DataFrame(
                {
                    "_id": pdf["_id"].iloc[pos].reset_index(drop=True),
                    "_gk": _pd.Series(gks, dtype="int64"),
                    "_bucket": _pd.Series(bks, dtype="int64"),
                }
            )

    return src.mapInPandas(run, f"_id {id_type}, _gk bigint, _bucket bigint")


def _content_groups(members: DataFrame) -> DataFrame:
    """One row per DISTINCT shingle set: ``(_gk, _id=min id)`` — the
    hot-key guard, SCALARS ONLY.  m exact-content duplicates (identical
    shingle sets — Zipf-common in web corpora: boilerplate pages,
    mirrored docs) collide in EVERY band, so uncollapsed they emit
    O(m²) candidate pairs per bucket; collapsed they are one band row
    and their membership expands linearly in the cluster step.

    Deliberately does NOT carry the shingle array through the groupBy
    (a ``min_by(_sh, _id)`` here shuffles the full multi-KB array
    payload corpus-wide — measured 2x the whole pair query at sf0.1;
    the round-1 'band join carries (id, bucket) only' discipline).
    Consumers apply the collapse by LEFT SEMI joining scalar rows
    against these representative ids and recompute shingles map-side
    where needed."""
    return members.groupBy("_gk").agg(F.min("_id").alias("_id"))


def near_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """(id_a, id_b, jaccard) for near-duplicate pairs above threshold,
    between DISTINCT shingle sets — exact-content duplicate groups are
    collapsed to their min-id representative before the band join (see
    :func:`_content_groups`), so every reported jaccard is < 1 and both
    candidate volume and output are linear in the distinct-content
    count.  Full duplicate-group membership is
    :func:`near_duplicate_clusters`' job.

    Scale shape: the LSH band self-join carries ONLY (id, bucket) — the
    multi-hundred-element shingle arrays never enter ANY shuffle: the
    duplicate-content collapse picks representatives with a scalar
    (_gk → min id) aggregation and applies it as a LEFT SEMI join on
    the exploded scalar bucket rows, and the exact-Jaccard verify joins
    the (tiny) candidate set back against the map-side-recomputed
    shingle projection.  At 100 TB the exchanges carry ~16 bytes/row
    instead of ~2 KB/row.  (A min_by(_sh) collapse that carried the
    arrays through the groupBy measured 2x the whole query at sf0.1 and
    was reverted — see :func:`_content_groups`.)"""
    # The members kernel appears in multiple plan subtrees (the two
    # verify join-backs); the bucket path runs the fused shingle+sig+
    # band kernel (_bucket_rows).  Each consumer re-runs its (cheap)
    # Arrow kernel map-side — scalars only, no array ever shuffles.
    members = _content_members(df, text_col, id_col)
    # Per-(bucket, content-key) collapse: identical shingle sets have
    # identical signatures, hence identical bucket rows — so the min id
    # per (_bucket, _gk) IS the group's global representative, and the
    # collapse folds into the band path as ONE scalar partial
    # aggregation (map-side combine shrinks hot groups before the
    # exchange).  No extra shingle pass, no array shuffle.
    buckets = (
        _bucket_rows(df, text_col, id_col)
        .groupBy("_bucket", "_gk")
        .agg(F.min("_id").alias("_id"))
    )
    cand = (
        buckets.select(F.col("_id").alias("id_a"), "_bucket")
        .join(buckets.select(F.col("_id").alias("id_b"), "_bucket"), "_bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = members.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = members.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard_col(F.col("_sh_a"), F.col("_sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _pairs_ctes_sql(
    table: str, text_col: str, id_col: str, threshold: float
) -> str:
    """Shared CTE chain ending in ``mvpairs(id_a, id_b, jaccard)`` (the
    verified representative-level pair set) plus ``mmem(_id, _gk)`` /
    ``mgroups(_gk, _id, _sh)`` — the shingle-set collapse both
    :func:`near_duplicate_pairs_sql` and
    :func:`near_duplicate_clusters_sql` select from."""
    sh = shingles_sql(text_col)
    sig = minhash_signature_sql("_sh")
    bk = band_buckets_sql("_sig")
    gk = shingle_set_key_sql("_sh")
    return f"""mbase AS (
  SELECT {id_col} AS _id, {sh} AS _sh FROM {table}
), mmem AS MATERIALIZED (
  SELECT _id, _sh, {gk} AS _gk FROM mbase WHERE len(_sh) > 0
), mgroups AS MATERIALIZED (
  SELECT _gk, min(_id) AS _id, arg_min(_sh, _id) AS _sh FROM mmem GROUP BY _gk
), msig AS (
  SELECT _id, _sh, {sig} AS _sig FROM mgroups
), mbuckets AS (
  SELECT _id, unnest({bk}) AS _bucket FROM msig
), mpairs AS (
  SELECT DISTINCT l._id AS id_a, r._id AS id_b
  FROM mbuckets l JOIN mbuckets r ON l._bucket = r._bucket AND l._id < r._id
), mscored AS (
  SELECT p.id_a, p.id_b,
         CASE WHEN len(list_distinct(a._sh || b._sh)) > 0 THEN
           len(list_intersect(a._sh, b._sh))::DOUBLE / len(list_distinct(a._sh || b._sh))
         ELSE 0.0 END AS jaccard
  FROM mpairs p
  JOIN mgroups a ON p.id_a = a._id
  JOIN mgroups b ON p.id_b = b._id
), mvpairs AS MATERIALIZED (
  SELECT id_a, id_b, round(jaccard, 6) AS jaccard
  FROM mscored WHERE jaccard >= {threshold}
)"""


def near_duplicate_pairs_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", threshold: float = 0.8
) -> str:
    """DuckDB twin of :func:`near_duplicate_pairs` (same shingle-set
    collapse, same bands, same exact-Jaccard verify)."""
    ctes = _pairs_ctes_sql(table, text_col, id_col, threshold)
    return f"""
WITH {ctes}
SELECT id_a, id_b, jaccard FROM mvpairs"""


def near_duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate text CLUSTERS — connected components over the
    verified :func:`near_duplicate_pairs` graph (the keep-one-per-cluster
    shape: ``WHERE {id} = cluster_rep`` after this).  Returns
    ``(id, cluster_rep, cluster_size)`` for every input row; singletons
    keep themselves at size 1.  Shares the star-contraction component
    primitive with the hamming/phash path
    (:func:`sparkclean.graph.component_labels`).

    Components resolve at the DISTINCT-shingle-set level (representative
    pairs from :func:`near_duplicate_pairs`), then every doc joins its
    set-group representative's component through one linear membership
    join — identical-content groups have Jaccard 1 >= any threshold, so
    cluster semantics are unchanged from the pre-collapse
    implementation while a mega-group of m boilerplate copies costs m
    membership rows, never m² pairs."""
    from ..graph import component_labels

    members = _content_members(df, text_col, id_col)
    groups = _content_groups(members)
    pairs = near_duplicate_pairs(df, text_col, id_col, threshold)
    labels = component_labels(pairs, max_iter=max_iter).select(
        F.col("id").alias("_rid"), "comp"
    )
    # membership is the SMALL scalar result of the expensive shingle
    # pass (id, gk, rep-id triples).  Checkpoint it eagerly: the cluster
    # frame is consumed multiple times downstream (sizes agg + final
    # join here; twice again in near_duplicate_best_representatives),
    # and without the cut each consumer re-runs shingling+hashing over
    # the full corpus — measured 31 s/action at sf0.1, ~3 s with the
    # cut (the r3 rule: shrink first, persist the small result, never
    # the wide intermediate).
    membership = (
        members.select("_id", "_gk")
        .join(groups.select("_gk", F.col("_id").alias("_rid")), "_gk")
        .localCheckpoint(eager=True)
    )
    asg = (
        df.select(F.col(id_col).alias("_id"))
        .join(membership, "_id", "left")
        .join(labels, "_rid", "left")
        .select(
            F.col("_id").alias("id"),
            F.coalesce("comp", "_rid", "_id").alias("cluster_rep"),
        )
    )
    sizes = asg.groupBy("cluster_rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        asg.join(sizes, "cluster_rep")
        .select("id", "cluster_rep", "cluster_size")
        .withColumnRenamed("id", id_col)
    )


def near_duplicate_clusters_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", threshold: float = 0.8
) -> str:
    """DuckDB twin of :func:`near_duplicate_clusters`: recursive
    reachability over the representative pair set, membership expanded
    through the mgroups collapse."""
    ctes = _pairs_ctes_sql(table, text_col, id_col, threshold)
    return f"""
WITH RECURSIVE {ctes},
medges AS (
  SELECT id_a AS src, id_b AS dst FROM mvpairs
  UNION
  SELECT id_b, id_a FROM mvpairs
),
mreach AS (
  SELECT src AS id, src AS comp FROM medges
  UNION
  SELECT e.dst AS id, r.comp FROM mreach r JOIN medges e ON e.src = r.id
),
mcomp AS (SELECT id, min(comp) AS comp FROM mreach GROUP BY id),
mship AS (
  SELECT m._id AS id, g._id AS _rid
  FROM mmem m JOIN mgroups g USING (_gk)
),
mall AS (SELECT {id_col} AS id FROM {table}),
masg AS (
  SELECT a.id, coalesce(c.comp, s._rid, a.id) AS cluster_rep
  FROM mall a
  LEFT JOIN mship s USING (id)
  LEFT JOIN mcomp c ON c.id = s._rid
),
msizes AS (SELECT cluster_rep, count(*) AS cluster_size FROM masg GROUP BY 1)
SELECT id AS {id_col}, cluster_rep, cluster_size
FROM masg JOIN msizes USING (cluster_rep)"""


def near_duplicate_best_representatives(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_iter: int = 20,
) -> DataFrame:
    """Keep-BEST-per-cluster dedup policy: (id, cluster_rep,
    cluster_size, quality, keep) where ``keep`` marks each cluster's
    highest-quality member (production dedup keeps the best document,
    not the lowest id).  Quality is the documented composite
    ``alpha_ratio - repetition_ratio`` (more alphabetic, less repeated
    — sparkclean.text.rules exprs; swap for a model score in
    production); ties break on id ASC; quality is compared unrounded
    and reported 6dp-rounded.

    Scale shape: the verified component loop plus one id-equi join of
    the quality projection and one (cluster_rep)-keyed argmin agg +
    join back — the argmin is ``min(struct(-quality, id))``, a
    map-side-combinable aggregate (no per-cluster window)."""
    from ..text.rules import alpha_ratio_col, repetition_ratio_col

    t = F.coalesce(F.col(text_col), F.lit(""))
    quality = (alpha_ratio_col(t) - repetition_ratio_col(t)).alias("_q")
    clusters = near_duplicate_clusters(df, text_col, id_col, threshold, max_iter)
    scored = clusters.join(df.select(id_col, quality), id_col)
    best = scored.groupBy("cluster_rep").agg(
        F.min(
            F.struct((-F.col("_q")).alias("nq"), F.col(id_col).alias("bid"))
        ).alias("_b")
    )
    return scored.join(best, "cluster_rep").select(
        id_col,
        "cluster_rep",
        "cluster_size",
        F.round("_q", 6).alias("quality"),
        (F.col(id_col) == F.col("_b.bid")).alias("keep"),
    )


def near_duplicate_best_representatives_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> str:
    """DuckDB twin of :func:`near_duplicate_best_representatives`."""
    from ..text.rules import quality_features_sql_exprs

    ex = quality_features_sql_exprs(f"coalesce({text_col}, '')")
    return f"""
WITH nbr_clusters AS MATERIALIZED (
{near_duplicate_clusters_sql(table, text_col, id_col, threshold)}
), nbr_scored AS MATERIALIZED (
  SELECT c.{id_col}, c.cluster_rep, c.cluster_size,
         ({ex["alpha_ratio"]}) - ({ex["repetition_ratio"]}) AS q
  FROM nbr_clusters c JOIN {table} d ON d.{id_col} = c.{id_col}
), nbr_ranked AS (
  SELECT {id_col}, cluster_rep, cluster_size, q,
         row_number() OVER (
             PARTITION BY cluster_rep ORDER BY q DESC, {id_col} ASC
         ) AS rn
  FROM nbr_scored
)
SELECT {id_col}, cluster_rep, cluster_size,
       round(q, 6) AS quality, rn = 1 AS keep
FROM nbr_ranked
"""
