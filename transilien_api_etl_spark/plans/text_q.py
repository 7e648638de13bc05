"""Text-analysis + dedup plans — SURVEY.md §3 F9/F10 (M6).

The training-data-pipeline text operators over ``documents``: tokenization
stats, word frequencies, quality scoring, language-ID heuristic, exact
dedup (hash families), n-gram Jaccard near-dup, MinHash+LSH candidates, and
rolling-hash fingerprints. Everything except the xxhash-based ops is
oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transilien_api_etl_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    predict_lang,
    rolling_hash_fingerprint,
    shingles,
    stopword_count,
    token_count,
    tokenize,
)
from transilien_api_etl_spark.io import load_table
from transilien_api_etl_spark.operators.dedup import (
    canonical_row_hash,
    jaccard_pairs,
    minhash_signature_pairs,
)
from transilien_api_etl_spark.plans.registry import register
from transilien_api_etl_spark.session import ensure_query_confs

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# Hot-shingle stop-list threshold for the exact Jaccard path: a shingle in
# k docs makes k² inverted-index join rows, so the cap bounds per-shingle
# fan-out regardless of corpus size. Mirrored verbatim in the oracle SQL.
_JACCARD_MAX_DF = 1000
# Shingle size and pair threshold shared by docs_shingle_jaccard, its
# oracle SQL, AND docs_dup_clusters (whose oracle is built on the same
# pair SQL): one constant, three consumers — tuning either knob cannot
# silently diverge the clusters plan from its own oracle.
_JACCARD_SHINGLE_N = 3
_JACCARD_MIN_SIM = 0.05
# The oracle's shingle concat, derived from the same constant:
# s[i] || ' ' || s[i+1] || ... (DuckDB lists are 1-based).
_JACCARD_SH_CONCAT = " || ' ' || ".join(
    f"s[i+{j}]" for j in range(_JACCARD_SHINGLE_N)
)


@register(
    "docs_token_stats",
    doc="Corpus token statistics per language (SURVEY §3 F9): pure-DataFrame "
    "tokenizer (split) so the whole plan is one codegen'd scan+agg. "
    "bench: graded through its bench.TWINS twin (documents amplified): "
    "the 1 M-doc walls are 0.10-0.26 s on both engines, inside the "
    "host's jitter floor, and the row hovered 1.4-2.4 across rounds 9-11 "
    "without a plan change.",
    tags=("text",),
    bench=True,
    oracle="""
SELECT lang,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
""",
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


@register(
    "docs_word_freq_top20",
    doc="Global word frequencies, top-20 (SURVEY §3 F9): explode → hash agg "
    "→ TakeOrderedAndProject; partial aggregation makes the explode "
    "shuffle-light at scale. bench: graded through its bench.TWINS twin "
    "(documents amplified) so the number measures the plan, not the "
    "sub-jitter 0.1 s floor.",
    tags=("text", "topk"),
    bench=True,
    oracle="""
SELECT w AS word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w ORDER BY n DESC, word LIMIT 20
""",
)
def docs_word_freq_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


@register(
    "docs_quality_score",
    doc="Per-document quality scoring (SURVEY §3 F9 / BASELINE mandate): "
    "token count, distinct ratio, stopword ratio, mean token length, "
    "composite score — all higher-order array fns, zero UDFs.",
    tags=("text",),
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       round(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) * 1.0 / n_tokens, 6)
         AS stop_ratio,
       round(len(list_distinct(toks)) * 1.0 / n_tokens, 6) AS distinct_ratio,
       round((length(text) - (n_tokens - 1)) * 1.0 / n_tokens, 6) AS avg_token_len,
       round(0.5 * (len(list_distinct(toks)) * 1.0 / n_tokens)
             + 0.5 * (1 - len(list_filter(toks, x -> x IN ({_STOP_SQL}))) * 1.0 / n_tokens), 6)
         AS quality
FROM t ORDER BY doc_id
""",
)
def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = stopword_count(toks)
    stop_ratio = n_stop * F.lit(1.0) / n_tokens
    distinct_ratio = n_distinct * F.lit(1.0) / n_tokens
    avg_token_len = (F.length("text") - (n_tokens - 1)) * F.lit(1.0) / n_tokens
    return (
        d.select(
            "doc_id",
            n_tokens.cast("long").alias("n_tokens"),
            n_distinct.cast("long").alias("n_distinct"),
            F.round(stop_ratio, 6).alias("stop_ratio"),
            F.round(distinct_ratio, 6).alias("distinct_ratio"),
            F.round(avg_token_len, 6).alias("avg_token_len"),
            F.round(0.5 * distinct_ratio + 0.5 * (1 - stop_ratio), 6).alias("quality"),
        )
        .orderBy("doc_id")
    )


# Marker IN-lists generated from the ONE source of truth
# (functions/text.LANG_MARKERS) — the _STOP_SQL pattern: editing the
# marker config cannot silently diverge the oracle from predict_lang.
# The argmax tie-break CASE below must still mirror predict_lang's
# fixed priority (de > fr > es > en fallback).
_MARKERS_SQL = {
    lang: ", ".join(f"'{w}'" for w in words) for lang, words in LANG_MARKERS.items()
}


@register(
    "docs_lang_id",
    doc="Language-ID heuristic (SURVEY §3 F9 / BASELINE mandate): stopword-"
    "marker scores per language, deterministic argmax; confusion counts vs "
    "the labeled lang column.",
    tags=("text",),
    oracle=f"""
WITH s AS (
  SELECT lang,
         len(list_filter(string_split(text,' '), x -> x IN ({_MARKERS_SQL['en']}))) AS s_en,
         len(list_filter(string_split(text,' '), x -> x IN ({_MARKERS_SQL['de']}))) AS s_de,
         len(list_filter(string_split(text,' '), x -> x IN ({_MARKERS_SQL['fr']}))) AS s_fr,
         len(list_filter(string_split(text,' '), x -> x IN ({_MARKERS_SQL['es']}))) AS s_es
  FROM documents
)
SELECT lang,
       CASE WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr > s_en AND s_fr >= s_es THEN 'fr'
            WHEN s_es > s_en THEN 'es'
            ELSE 'en' END AS predicted,
       count(*) AS n
FROM s GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return (
        d.groupBy("lang", predict_lang(toks).alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "dedup_exact_docs",
    doc="Exact text dedup via content hash (SURVEY §3 F10 / BASELINE "
    "mandate): sha256(text) groups; keeper = min doc_id. Hash-groupBy is "
    "the 100 TB-safe exact-dedup plan (single shuffle on the digest).",
    tags=("dedup",),
    bench=True,
    oracle="""
SELECT sha256(text) AS text_sha, CAST(min(doc_id) AS BIGINT) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY keep_id
""",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("text_sha"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


@register(
    "dedup_exact_rows",
    doc="Canonical row-hash dedup (SURVEY §3 F10): sha256 over an INJECTIVE "
    "prefix-coded projection of stable-typed columns (ints/strings only — "
    "float→string formatting is engine-specific). Each column encodes as "
    "'N' (null) or 'V'||sha256(value), so NULL position and in-value "
    "separators cannot collide distinct rows (operators/dedup.py).",
    tags=("dedup",),
    oracle="""
SELECT row_sha, count(*) AS n FROM (
  SELECT sha256(concat(
    CASE WHEN l_orderkey  IS NULL THEN 'N' ELSE 'V' || sha256(CAST(l_orderkey  AS VARCHAR)) END,
    CASE WHEN l_partkey   IS NULL THEN 'N' ELSE 'V' || sha256(CAST(l_partkey   AS VARCHAR)) END,
    CASE WHEN l_suppkey   IS NULL THEN 'N' ELSE 'V' || sha256(CAST(l_suppkey   AS VARCHAR)) END,
    CASE WHEN l_returnflag IS NULL THEN 'N' ELSE 'V' || sha256(CAST(l_returnflag AS VARCHAR)) END
  )) AS row_sha
  FROM lineitem)
GROUP BY row_sha ORDER BY row_sha
""",
)
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.select(
            canonical_row_hash(["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"]).alias(
                "row_sha"
            )
        )
        .groupBy("row_sha")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("row_sha")
    )


@register(
    "docs_shingle_jaccard",
    doc="N-gram Jaccard near-dup (SURVEY §3 F10 / BASELINE mandate): 3-word "
    "shingles → hot-shingle stop-list (document frequency > "
    "JACCARD_MAX_DF pruned before the join, bounding per-shingle fan-out "
    "at k² ≤ MAX_DF²) → inverted-index self-join → |A∩B|/|A∪B| ≥ 0.05. "
    "The exact twin of the MinHash path.",
    tags=("dedup", "text"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS s FROM documents
), sh0 AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(s) - {_JACCARD_SHINGLE_N - 1}, 0)),
           i -> {_JACCARD_SH_CONCAT}))) AS sh
  FROM tok
), sh AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
  ) WHERE df <= {_JACCARD_MAX_DF}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(inter AS BIGINT) AS n_shared,
       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {_JACCARD_MIN_SIM}
ORDER BY doc_a, doc_b
""",
)
def docs_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    # tokens materialized once per row — an inline tokenize() would be
    # re-evaluated 3× per shingle inside shingles()'s lambda (Catalyst
    # does not hoist subexpressions out of lambda bodies): O(3·len²)
    # tokenization per doc. Same fix in docs_minhash_candidates.
    d = d.withColumn("_toks", tokenize(F.col("text")))
    pairs = jaccard_pairs(
        d,
        "doc_id",
        shingles(F.col("_toks"), _JACCARD_SHINGLE_N),
        min_jaccard=_JACCARD_MIN_SIM,
        max_df=_JACCARD_MAX_DF,
    )
    return pairs.select(
        "doc_a", "doc_b", "n_shared", F.round(F.col("jaccard"), 6).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


# Bucket-size cap shared by the Spark call AND the inlined oracle SQL —
# the _JACCARD_MAX_DF pattern: one constant, two consumers, so tuning the
# helper default in operators/dedup.py cannot silently diverge the sides.
_MINHASH_MAX_BUCKET = 1000


def _minhash_oracle_sql(
    *, num_hashes: int, band_size: int, max_bucket_size: int
) -> str:
    """DuckDB twin of operators/dedup.minhash_signature_pairs over the
    3-shingle tokens: identical seeded-md5 minima, identical BIGINT slot-
    tuple band buckets (round 7 — was a comma-joined string; same key
    equality ⇒ same pairs, but integer keys are what both engines should
    hash at 10⁸-pair scale), identical bucket-size cap, identical pair
    aggregation."""
    n_bands = num_hashes // band_size
    sig_cols = ", ".join(
        "min(CAST(('0x' || substr(md5('" + f"{s}:" + "' || sh), 1, 15)) AS BIGINT))"
        f" AS h{s}"
        for s in range(num_hashes)
    )
    slot_list = ", ".join(f"s{i}" for i in range(band_size))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + ", ".join(
            f"h{b * band_size + i} AS s{i}" for i in range(band_size)
        )
        + " FROM sigs"
        for b in range(n_bands)
    )
    slot_eq = " AND ".join(f"a.s{i} = b.s{i}" for i in range(band_size))
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS s FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(s) - 2, 0)),
           i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2]))) AS sh
  FROM tok
), sigs AS (
  SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id
), banded AS ({band_selects}
), capped AS (
  SELECT doc_id, band, {slot_list} FROM (
    SELECT *, count(*) OVER (PARTITION BY band, {slot_list}) AS bsz FROM banded
  ) WHERE bsz <= {max_bucket_size}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared_bands
FROM capped a
JOIN capped b ON a.band = b.band AND {slot_eq} AND a.doc_id < b.doc_id
GROUP BY 1, 2 ORDER BY id_a, id_b
"""


@register(
    "docs_minhash_candidates",
    doc="MinHash+LSH near-dup candidates (SURVEY §3 F10): 16 seeded-md5 "
    "minima → 4 bands of 4 → band-bucket self-join. Pure built-ins, no "
    "UDF, no quadratic pair scan. HASH-CHECKED since round 3: the "
    "portable permutation hash lets DuckDB rebuild the identical "
    "signatures, bands, bucket-size cap, and candidate pairs. bench: the "
    "scale cache's 200-replica doc groups are near-dups by construction, "
    "so the 1 M-doc candidate set is ~1.1e8 pairs — the boilerplate-"
    "cluster shape max_bucket_size exists to bound (BASELINE.md round-7); "
    "the graded row runs its bench.TWINS twin (documents reduced to whole "
    "replicas, both engines) so the budget measures the plan, not the "
    "output volume.",
    tags=("dedup", "lsh"),
    oracle=_minhash_oracle_sql(num_hashes=16, band_size=4, max_bucket_size=_MINHASH_MAX_BUCKET),
    bench=True,
)
def docs_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn(
        "_toks", tokenize(F.col("text"))  # once per row; see docs_shingle_jaccard
    )
    pairs = minhash_signature_pairs(
        d,
        "doc_id",
        shingles(F.col("_toks"), 3),
        num_hashes=16,
        band_size=4,
        max_bucket_size=_MINHASH_MAX_BUCKET,
    )
    return pairs.orderBy("id_a", "id_b")


@register(
    "docs_fingerprint",
    doc="Rolling-hash document fingerprint (BASELINE mandate): polynomial "
    "fold over tokens, JVM-side aggregate. HASH-CHECKED since round 3: "
    "the token hash is the portable md5-based 60-bit form, so DuckDB "
    "replays the exact fold with list_reduce (same base/modulus, same "
    "left-to-right order).",
    tags=("text",),
    oracle="""
SELECT doc_id,
       CASE WHEN len(string_split(text, ' ')) = 0 THEN CAST(0 AS BIGINT)
            ELSE list_reduce(
                   list_transform(
                     string_split(text, ' '),
                     t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                          % 2147483647),
                   (a, b) -> (a * 1000003 + b) % 2147483647)
       END AS fingerprint
FROM documents ORDER BY doc_id
""",
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", rolling_hash_fingerprint(F.col("text")).alias("fingerprint"))
        .orderBy("doc_id")
    )


@register(
    "docs_tfidf_top3",
    doc="Pure-DataFrame TF-IDF, top-3 terms per doc over the first 100 docs "
    "(SURVEY §3 F9): tf = per-doc term count, idf = ln(N/df). Two hash aggs "
    "+ one broadcast join on the (small) vocabulary — no ML pipeline, no "
    "UDF; at corpus scale the df table is the only shuffled reduction.",
    tags=("text", "tfidf"),
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id <= 100),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n / CAST(dfreq.df AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), n),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored)
SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
ORDER BY doc_id, tfidf DESC, term
""",
)
def docs_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    tok = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tok.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df").cast("double")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )


from transilien_api_etl_spark.operators.components import connected_components
from transilien_api_etl_spark.plans.registry import REGISTRY as _REG

_JACCARD_ORACLE = _REG["docs_shingle_jaccard"].oracle


@register(
    "docs_dup_clusters",
    doc="Near-dup clustering (SURVEY §3 F10 — the keep-one step after "
    "candidate generation): connected components over the jaccard>=0.05 "
    "pair graph via iterative min-label propagation; each cluster reports "
    "its canonical (min) doc and sorted member list (comma-joined string so "
    "the driver's pandas canonicalizer can sort/hash the cell — array cells "
    "are unhashable there). Oracle: recursive-CTE transitive closure over "
    "the identical pair SQL.",
    tags=("dedup", "text", "clustering"),
    oracle=f"""
WITH RECURSIVE jac AS ({_JACCARD_ORACLE}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM jac
  UNION
  SELECT doc_b, doc_a FROM jac),
reach AS (
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT rc.node, e.d FROM reach rc JOIN edges e ON rc.r = e.s),
lbl AS (SELECT node, least(node, min(r)) AS cluster FROM reach GROUP BY node)
SELECT cluster AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       array_to_string(list_sort(list(node)), ',') AS members
FROM lbl GROUP BY cluster ORDER BY cluster_id
""",
)
def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    # Call the pair operator directly instead of the REGISTERED
    # docs_shingle_jaccard plan: the registered form ends in a
    # presentation-only global orderBy + round that this consumer pays
    # for (one full range-partition Exchange over all pairs) and then
    # immediately discards — connected_components reshuffles by node id
    # on its first step.
    d = load_table(spark, sf_dir, "documents").withColumn(
        "_toks", tokenize(F.col("text"))
    )
    pairs = jaccard_pairs(
        d, "doc_id", shingles(F.col("_toks"), _JACCARD_SHINGLE_N),
        min_jaccard=_JACCARD_MIN_SIM, max_df=_JACCARD_MAX_DF,
    ).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    return (
        labels.groupBy(F.col("cluster").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# PII scrubbing + repetition-quality filters (SURVEY §3 F9 — the two
# remaining training-data hygiene ops: redact personal data, drop
# degenerate-repetition docs per Rae et al. 2021 "Gopher" §A.1.1).
# ---------------------------------------------------------------------------

# RE2-compatible (DuckDB) AND java.util.regex-compatible (Spark) patterns —
# the intersection dialect: no backrefs, no lookaround, ASCII \b.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@register(
    "docs_pii_scrub",
    doc="PII redaction (SURVEY §3 F9 — training-data hygiene): the synthetic "
    "corpus carries no PII, so each doc is first salted with a deterministic "
    "email/phone/IPv4 derived from doc_id (identically in Spark and the "
    "oracle), then scrubbed by a JVM-side regexp_replace chain. Per-source "
    "report proves every planted token was found and removed. At 100 TB this "
    "is one codegen'd scan — no shuffle until the final small agg.",
    tags=("text", "pii", "pipeline"),
    oracle=f"""
WITH salted AS (
  SELECT doc_id, source,
         text || ' contact user' || doc_id || '@mail.example.com or ' ||
         lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.' ||
         CAST(doc_id % 256 AS VARCHAR) || '.' ||
         CAST(CAST(floor(doc_id / 7) AS BIGINT) % 256 AS VARCHAR) || '.' ||
         CAST(doc_id % 254 + 1 AS VARCHAR) AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
         len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
         len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IPV4}', '<IP>', 'g') AS clean
  FROM salted
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_emails) AS BIGINT) AS emails_redacted,
       CAST(sum(n_phones) AS BIGINT) AS phones_redacted,
       CAST(sum(n_ips) AS BIGINT) AS ips_redacted,
       CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
       CAST(sum(CASE WHEN regexp_matches(clean, '{_PII_EMAIL}')
                       OR regexp_matches(clean, '{_PII_PHONE}')
                       OR regexp_matches(clean, '{_PII_IPV4}')
                     THEN 1 ELSE 0 END) AS BIGINT) AS residual_pii_docs
FROM scrubbed GROUP BY source ORDER BY source
""",
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or "),
        F.lpad((F.col("doc_id") % 900 + 100).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.floor(F.col("doc_id") / 7) % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 254 + 1).cast("string"),
    )
    s = d.select("doc_id", "source", salted.alias("text"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IPV4,
        "<IP>",
    )
    scrubbed = s.select(
        "source",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_PHONE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_IPV4), 0)).alias("n_ips"),
        clean.alias("clean"),
    )
    residual = (
        F.col("clean").rlike(_PII_EMAIL)
        | F.col("clean").rlike(_PII_PHONE)
        | F.col("clean").rlike(_PII_IPV4)
    )
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").cast("long").alias("emails_redacted"),
            F.sum("n_phones").cast("long").alias("phones_redacted"),
            F.sum("n_ips").cast("long").alias("ips_redacted"),
            F.sum(F.length("clean")).cast("long").alias("clean_chars"),
            F.sum(residual.cast("int")).cast("long").alias("residual_pii_docs"),
        )
        .orderBy("source")
    )


@register(
    "docs_repetition_metrics",
    doc="Degenerate-repetition quality filters (SURVEY §3 F9; Gopher §A.1.1 "
    "adapted to a newline-free corpus): per-doc distinct-token ratio, "
    "top-token share, top-bigram share, and the keep/drop flag. The "
    "token/bigram mode is computed with a single groupBy per granularity "
    "keyed on doc_id — partial aggregation bounds the shuffle to distinct "
    "(doc, gram) pairs, which Zipf keeps far below token volume at 100 TB.",
    tags=("text", "quality", "pipeline"),
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
tok_counts AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2
),
top_tok AS (SELECT doc_id, max(c) AS top_c FROM tok_counts GROUP BY 1),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t
),
bg_counts AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
top_bg AS (SELECT doc_id, max(c) AS top_c FROM bg_counts GROUP BY 1)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       round(len(list_distinct(t.toks)) * 1.0 / t.n_tokens, 6) AS distinct_ratio,
       round(top_tok.top_c * 1.0 / t.n_tokens, 6) AS top_token_share,
       round(top_bg.top_c * 1.0 / (t.n_tokens - 1), 6) AS top_bigram_share,
       CAST(len(list_distinct(t.toks)) * 1.0 / t.n_tokens >= 0.2
            AND top_tok.top_c * 1.0 / t.n_tokens <= 0.3
            AND top_bg.top_c * 1.0 / (t.n_tokens - 1) <= 0.18 AS BOOLEAN) AS keep
FROM t JOIN top_tok USING (doc_id) JOIN top_bg USING (doc_id)
WHERE t.n_tokens > 1
ORDER BY t.doc_id
""",
)
def docs_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")).where(
        F.col("n_tokens") > 1
    )
    tok_top = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok_c"))
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    bg_top = (
        base.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bg_c"))
    )
    distinct_ratio = F.size(F.array_distinct("toks")) * F.lit(1.0) / F.col("n_tokens")
    top_token_share = F.col("top_tok_c") * F.lit(1.0) / F.col("n_tokens")
    top_bigram_share = F.col("top_bg_c") * F.lit(1.0) / (F.col("n_tokens") - 1)
    return (
        base.join(tok_top, "doc_id")
        .join(bg_top, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(distinct_ratio, 6).alias("distinct_ratio"),
            F.round(top_token_share, 6).alias("top_token_share"),
            F.round(top_bigram_share, 6).alias("top_bigram_share"),
            (
                (distinct_ratio >= 0.2)
                & (top_token_share <= 0.3)
                & (top_bigram_share <= 0.18)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


_SEG_WORDS = 10

_SEGMENT_DEDUP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
blk AS (
  SELECT doc_id, i AS block_no,
         array_to_string(list_slice(words, i * {_SEG_WORDS} + 1,
                                    i * {_SEG_WORDS} + {_SEG_WORDS}), ' ')
           AS block_text
  FROM w, unnest(generate_series(0,
         CAST(ceil(len(words) / {_SEG_WORDS}.0) AS INTEGER) - 1)) AS t(i)),
kept AS (
  SELECT doc_id, block_no, block_text,
         row_number() OVER (PARTITION BY block_text
                            ORDER BY doc_id, block_no) AS rn
  FROM blk)
SELECT doc_id,
       string_agg(CASE WHEN rn = 1 THEN block_text END, ' '
                  ORDER BY block_no) AS text_dedup,
       CAST(count(*) FILTER (rn = 1) AS BIGINT) AS blocks_kept,
       CAST(count(*) FILTER (rn > 1) AS BIGINT) AS blocks_dropped
FROM kept GROUP BY doc_id ORDER BY doc_id
"""


@register(
    "docs_segment_dedup",
    doc="Intra-corpus SEGMENT-level dedup with reassembly (the C4/"
    "RefinedWeb 'drop any line seen before' hygiene step, adapted to this "
    "delimiter-free corpus as fixed 10-word blocks): documents split into "
    "consecutive word blocks map-side (transform+slice — no shuffle to "
    "form segments), one global keep-first pass per distinct block text "
    "(first = lowest doc_id, then block_no), then each document is "
    "reassembled from its surviving blocks in order. Two shuffles total "
    "(block-text window + per-doc regroup), both on bounded keys; at "
    "100 TB the block-text shuffle is the classic dedup shuffle, nothing "
    "quadratic anywhere. bench: graded through its bench.TWINS twin "
    "(documents reduced to whole replicas).",
    tags=("text", "dedup", "pipeline"),
    bench=True,
    oracle=_SEGMENT_DEDUP_ORACLE,
)
def docs_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ensure_query_confs(spark)
    docs = load_table(spark, sf_dir, "documents")
    k = _SEG_WORDS
    # Materialize split(text) ONCE per row: Catalyst does not hoist
    # subexpressions out of higher-order-function lambda bodies, so an
    # inline split(text,' ') re-tokenizes the whole document for every
    # block — O(len²/k) per doc (measured 3.04 s vs 0.35 s at a mere
    # 5 k tokens × 50 rows). The _words alias is referenced >1× and is
    # non-cheap, so CollapseProject keeps it a real projection.
    docs = docs.withColumn("_words", F.split(F.col("text"), " "))
    blocks = F.expr(
        f"transform(sequence(0, cast(ceil(size(_words) / {k}.0) as int) - 1), "
        f"i -> array_join(slice(_words, i * {k} + 1, {k}), ' '))"
    )
    blk = docs.select(
        "doc_id", F.posexplode(blocks).alias("block_no", "block_text")
    )
    rn = F.row_number().over(
        Window.partitionBy("block_text").orderBy("doc_id", "block_no")
    )
    kept = blk.withColumn("rn", rn)
    surviving = F.array_sort(
        F.collect_list(
            F.when(
                F.col("rn") == 1,
                F.struct(F.col("block_no"), F.col("block_text")),
            )
        )
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            surviving.alias("blocks"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("blocks_kept"),
            F.count(F.when(F.col("rn") > 1, 1)).alias("blocks_dropped"),
        )
        .select(
            "doc_id",
            F.when(F.size("blocks") == 0, F.lit(None).cast("string"))
            .otherwise(
                F.array_join(
                    F.transform(F.col("blocks"), lambda s: s["block_text"]), " "
                )
            )
            .alias("text_dedup"),
            "blocks_kept",
            "blocks_dropped",
        )
        .orderBy("doc_id")
    )


_VOCAB_K = 1000


@register(
    "docs_tokenize_ids",
    doc="Tokenization to vocabulary ids (the step between F9's token "
    "counting and pretrain_pack_sequences): vocabulary = top-1000 corpus "
    "words with dense ids assigned by (count DESC, word) — deterministic "
    "across engines — broadcast-joined onto the exploded token stream; "
    "out-of-vocabulary tokens map to id 0. Emitted as (doc_id, pos, "
    "token_id) rows so the oracle hash covers every position. At 100 TB "
    "the vocab is KBs (broadcast), the token stream is map-side after it.",
    tags=("text", "tokenize", "pipeline"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(words, 1) - 1 AS pos,
         unnest(words) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS words
        FROM documents WHERE doc_id < 100) d),
freq AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
vocab AS (
  SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS INTEGER) AS token_id
  FROM freq ORDER BY c DESC, w LIMIT {_VOCAB_K})
SELECT t.doc_id, CAST(t.pos AS INTEGER) AS pos,
       coalesce(v.token_id, 0) AS token_id
FROM toks t LEFT JOIN vocab v ON t.w = v.w
ORDER BY doc_id, pos
""",
)
def docs_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ensure_query_confs(spark)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("words"))
    freq = (
        words.select(F.explode("words").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # TakeOrderedAndProject the top-K FIRST (distributed heap merge),
    # then number the K survivors: row_number over a partitionless window
    # would single-partition-sort the ENTIRE distinct-word table just to
    # discard all but K rows — the total order (desc c, then w) is
    # unambiguous, so limit-then-number selects and labels the exact same
    # vocabulary.
    topk = freq.orderBy(F.desc("c"), F.col("w")).limit(_VOCAB_K)
    vocab = topk.withColumn(
        "token_id",
        F.row_number().over(Window.orderBy(F.desc("c"), F.col("w"))).cast("int"),
    ).select("w", "token_id")
    toks = words.filter(F.col("doc_id") < 100).select(
        "doc_id", F.posexplode("words").alias("pos", "w")
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.coalesce("token_id", F.lit(0)).alias("token_id"),
        )
        .orderBy("doc_id", "pos")
    )
