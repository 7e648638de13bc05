"""End-to-end LLM pretrain-data curation pipeline (BASELINE mandate:
dedup + text analysis composed as one job, the shape a training-data run
actually executes).

Stages, all pure-DataFrame (zero Python UDFs, one shuffle per stage):
1. per-doc metrics — token count, distinct ratio, stopword ratio,
   language-ID argmax (``functions/text.py`` expressions);
2. quality gate — Gopher-style rules: min length, repetition cap
   (distinct ratio), stopword-share ceiling;
3. exact dedup — sha256(text) group, keeper = min doc_id;
4. corpus report — per predicted language: unique docs, dupes removed,
   token budget, mean quality.

Scale posture: stage 3 is the only wide shuffle (on the 32-byte digest —
uniform, skew-free); stages 1-2 are map-only and fuse into the scan's
whole-stage codegen; stage 4's input is |unique docs| rows and its
group-by key has ~4 values, so it collapses map-side. At 100 TB the plan
is scan → filter → one digest shuffle → tiny agg: the minimum possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transilien_api_etl_spark.functions.text import (
    predict_lang,
    shingles,
    stopword_count,
    token_count,
    tokenize,
)
from transilien_api_etl_spark.io import load_table
from transilien_api_etl_spark.plans.registry import register
from transilien_api_etl_spark.session import ensure_query_confs

# Gopher-style quality gate (rules over pure counts, engine-agnostic).
MIN_TOKENS = 25
MIN_DISTINCT_RATIO = 0.35
MAX_STOP_RATIO = 0.6

_STOP_SQL = "'the','a','of','and','to','in','is'"

# Shared oracle CTEs: metrics + quality gate + exact dedup, mirrored from
# the DataFrame stages below.
_PIPELINE_CTE = f"""
WITH m AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS distinct_ratio,
         len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_SQL}))) * 1.0
           / len(string_split(text, ' ')) AS stop_ratio,
         lang,
         (SELECT CASE WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
                      WHEN s_fr > s_en AND s_fr >= s_es THEN 'fr'
                      WHEN s_es > s_en THEN 'es'
                      ELSE 'en' END
          FROM (SELECT
            len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
            len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','nicht')))     AS s_de,
            len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et','ne')))           AS s_fr,
            len(list_filter(string_split(text,' '), x -> x IN ('el','los','las','y','no')))           AS s_es)
         ) AS predicted
  FROM documents
),
kept AS (
  SELECT *, round(0.5 * distinct_ratio + 0.5 * (1 - stop_ratio), 6) AS quality
  FROM m
  WHERE n_tokens >= {MIN_TOKENS}
    AND distinct_ratio >= {MIN_DISTINCT_RATIO}
    AND stop_ratio <= {MAX_STOP_RATIO}
),
uniq AS (
  SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_copies,
         min(lang) AS lang, min(predicted) AS predicted,
         CAST(min(n_tokens) AS BIGINT) AS n_tokens, min(quality) AS quality
  FROM kept GROUP BY sha256(text)
)
"""


@register(
    "pretrain_corpus_report",
    doc="Flagship pipeline composition (F9+F10): metrics → quality gate → "
    "exact dedup → per-language corpus report. One digest shuffle end to "
    "end; everything before it fuses into the scan stage. Grouped by the "
    "labeled lang (the heuristic predicted column stays in the curated "
    "output — this corpus shares one vocabulary across langs, so marker "
    "lang-ID is degenerate on the test data by construction). bench: "
    "graded through its bench.TWINS twin (documents reduced to whole "
    "replicas).",
    tags=("text", "dedup", "pipeline"),
    bench=True,
    oracle=_PIPELINE_CTE
    + """
SELECT lang, count(*) AS n_unique_docs,
       CAST(sum(n_copies - 1) AS BIGINT) AS n_dupes_removed,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality), 6) AS avg_quality
FROM uniq GROUP BY lang ORDER BY lang
""",
)
def pretrain_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    uniq = _curated(spark, sf_dir)
    return (
        uniq.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_unique_docs"),
            F.sum(F.col("n_copies") - 1).alias("n_dupes_removed"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("lang")
    )


@register(
    "pretrain_curated_docs",
    doc="The curated dataset itself: doc ids surviving the quality gate and "
    "exact dedup, with language and token budget — what a downstream "
    "tokenizer job would read.",
    tags=("text", "dedup", "pipeline"),
    oracle=_PIPELINE_CTE
    + """
SELECT keep_id, lang, predicted, n_tokens, quality
FROM uniq ORDER BY keep_id
""",
)
def pretrain_curated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    return _curated(spark, sf_dir).select(
        "keep_id", "lang", "predicted", "n_tokens", "quality"
    ).orderBy("keep_id")


def _curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages 1-3: metrics, quality gate, exact dedup. Same text ⇒ same
    metrics, so min() over the dup group is exact, not arbitrary."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tokens
    stop_ratio = stopword_count(toks) * F.lit(1.0) / n_tokens
    m = d.select(
        "doc_id",
        "text",
        "lang",
        n_tokens.alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stop_ratio"),
        predict_lang(toks).alias("predicted"),
    )
    kept = m.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("distinct_ratio") >= MIN_DISTINCT_RATIO)
        & (F.col("stop_ratio") <= MAX_STOP_RATIO)
    ).withColumn(
        "quality",
        F.round(0.5 * F.col("distinct_ratio") + 0.5 * (1 - F.col("stop_ratio")), 6),
    )
    return kept.groupBy(F.sha2("text", 256).alias("text_sha")).agg(
        F.min("doc_id").cast("long").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("lang").alias("lang"),
        F.min("predicted").alias("predicted"),
        F.min("n_tokens").cast("long").alias("n_tokens"),
        F.min("quality").alias("quality"),
    )


# --- corpus-engineering operators beyond the curate/dedup core -------------

_LCG_MOD = 2147483647  # Lehmer LCG: deterministic, overflow-safe in BIGINT
_LCG_MUL = 48271


@register(
    "pretrain_sample_mix",
    doc="Domain-mixing sampler: per-source deterministic Bernoulli sampling "
    "(head sources kept fully, mid 50%, tail 20%) keyed on a Lehmer-LCG "
    "hash of doc_id — pure BIGINT arithmetic both engines compute "
    "identically, unlike engine-native hash()/random(). (doc_id % p) * "
    "48271 % p stays under 2^47, so it cannot overflow int64 for ANY "
    "doc_id, where doc_id * bigmul would at trillion-row scale. Map-only: "
    "zero shuffles at 100 TB; the sample decision rides the scan.",
    tags=("text", "pipeline", "sampling"),
    oracle=f"""
SELECT doc_id, source
FROM (
  SELECT doc_id, source,
         ((doc_id % {_LCG_MOD}) * {_LCG_MUL}) % {_LCG_MOD} AS h,
         CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 1.0
              WHEN CAST(substr(source, 4) AS INT) < 13 THEN 0.5
              ELSE 0.2 END AS rate
  FROM documents)
WHERE h < rate * {_LCG_MOD}
ORDER BY doc_id
""",
)
def pretrain_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    rate = (
        F.when(src_num < 5, F.lit(1.0)).when(src_num < 13, F.lit(0.5)).otherwise(F.lit(0.2))
    )
    h = ((F.col("doc_id") % _LCG_MOD) * _LCG_MUL) % _LCG_MOD
    return (
        d.select("doc_id", "source", h.alias("h"), rate.alias("rate"))
        .filter(F.col("h") < F.col("rate") * _LCG_MOD)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


_PACK_BUDGET = 2048  # tokens per packed training sequence


@register(
    "pretrain_pack_sequences",
    doc="Token-budget sequence packing: docs are packed in doc_id order "
    "into ~2048-token sequences WITHIN each source shard — seq boundary = "
    "floor(running-tokens-before-doc / budget). Per-source windows keep "
    "the sort partition-local: at 100 TB each source shard packs "
    "independently (one shuffle on source, no global sort), which is how "
    "a real tokenizer job shards. Token counts use length arithmetic, not "
    "an array build.",
    tags=("text", "pipeline", "window"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         len(text) - len(replace(text, ' ', '')) + 1 AS n_tokens
  FROM documents),
packed AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id
  FROM t)
SELECT source, seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
FROM packed
GROUP BY source, seq_id
ORDER BY source, seq_id
""",
)
def pretrain_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    n_tokens = token_count(F.col("text"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = d.select("doc_id", "source", n_tokens.alias("n_tokens")).withColumn(
        "seq_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _PACK_BUDGET),
    )
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
        )
        .orderBy("source", "seq_id")
    )


_CHUNK_LEN = 500
_CHUNK_STRIDE = 400  # 100-char overlap between consecutive chunks


@register(
    "docs_chunk_windows",
    doc="Overlapping character-window chunking (the RAG/embedding prep "
    "shape): each doc explodes into 500-char chunks on a 400-char stride. "
    "sequence + posexplode stays JVM-side; map-only, no shuffle — chunking "
    "1B docs is embarrassingly parallel and this plan keeps it that way.",
    tags=("text", "pipeline", "explode"),
    oracle=f"""
WITH idx AS (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(greatest(len(text) - 1, 0) AS BIGINT),
                                {_CHUNK_STRIDE})) AS g
  FROM documents)
SELECT doc_id, CAST(g // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       substr(text, CAST(g AS INT) + 1, {_CHUNK_LEN}) AS chunk
FROM idx
ORDER BY doc_id, chunk_idx
""",
)
def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(_CHUNK_STRIDE)
    )
    return (
        d.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.expr(f"substring(text, start + 1, {_CHUNK_LEN})").alias("chunk"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# 4-token shingles: on the synthetic corpus (short docs, shared vocab) the
# classic 8-gram grain finds zero cross-source overlap at sf0.01 — a 0-row
# result would be a vacuous correctness check. 4 keeps the identical plan
# shape with a populated result (25 flagged docs at sf0.01); the grain is a
# config constant a real run would set to 8-13.
_DECON_NGRAM = 4


def _sql_shingle_expr(n: int) -> str:
    concat = " || ' ' || ".join(f"s[i+{j}]" for j in range(n))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(s) - {n - 1}, 0)), i -> {concat}))"
    )


@register(
    "decontaminate_docs",
    doc="Benchmark decontamination: training docs (source <> 'src19') that "
    "share any 4-token shingle with the held-out eval slice (source = "
    "'src19'), with the count of shared distinct shingles — the removal "
    "list a pretrain run feeds to an anti join. Eval shingles are tiny "
    "(one source slice) and broadcast; the train side explodes shingles "
    "map-side, so the only wide op is the final per-doc count. At 100 TB: "
    "broadcast-semi shape, no all-pairs anything.",
    tags=("text", "pipeline", "dedup"),
    oracle=f"""
WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS s FROM documents),
esh AS (
  SELECT DISTINCT unnest({_sql_shingle_expr(_DECON_NGRAM)}) AS sh
  FROM tok WHERE source = 'src19'),
tsh AS (
  SELECT doc_id, source, unnest({_sql_shingle_expr(_DECON_NGRAM)}) AS sh
  FROM tok WHERE source <> 'src19')
SELECT t.doc_id, t.source, count(*) AS n_shared
FROM tsh t JOIN esh e ON t.sh = e.sh
GROUP BY t.doc_id, t.source
ORDER BY t.doc_id
""",
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    sh = F.array_distinct(shingles(tokenize(F.col("text")), n=_DECON_NGRAM))
    eval_sh = (
        d.filter(F.col("source") == "src19")
        .select(F.explode(sh).alias("sh"))
        .distinct()
    )
    train_sh = d.filter(F.col("source") != "src19").select(
        "doc_id", "source", F.explode(sh).alias("sh")
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "sh")
        # shingles are per-doc distinct before the explode, so count(*) IS
        # the distinct shared-shingle count — no countDistinct shuffle
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("doc_id")
    )


@register(
    "docs_bigram_counts",
    doc="Corpus bigram table (n-gram LM counts): top-50 token bigrams by "
    "frequency, ties broken lexically. transform over an index sequence "
    "builds bigrams without a UDF; partial aggregation absorbs the "
    "explode's fan-out map-side before the single shuffle.",
    tags=("text", "agg"),
    oracle="""
WITH tok AS (SELECT string_split(text, ' ') AS s FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(s) - 1, 0)),
                               i -> s[i] || ' ' || s[i+1])) AS bigram
  FROM tok)
SELECT bigram, count(*) AS cnt
FROM bg
GROUP BY bigram
ORDER BY cnt DESC, bigram
LIMIT 50
""",
)
def docs_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    k = F.size(toks) - 1
    idx = F.sequence(F.lit(1), k)
    bigrams = F.when(
        k >= 1,
        F.transform(idx, lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1))),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(50)
    )


_SAMPLE_K = 5


@register(
    "sample_k_per_source",
    doc="Fixed-size uniform sample per group — the distributed equivalent "
    "of reservoir sampling: rank docs within each source by a Lehmer-LCG "
    "hash of doc_id and keep the k smallest. One window pass, deterministic "
    "across engines AND across reruns (a property random()-based sampling "
    "lacks), uniform because the hash is uniform over doc ids. At 100 TB "
    "the per-group top-k-by-hash form beats a true sequential reservoir: "
    "no state, no order dependence, partition-parallel.",
    tags=("pipeline", "sampling", "window"),
    oracle=f"""
SELECT doc_id, source
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ((doc_id % {_LCG_MOD}) * {_LCG_MUL}) % {_LCG_MOD}, doc_id
         ) AS rn
  FROM documents)
WHERE rn <= {_SAMPLE_K}
ORDER BY source, doc_id
""",
)
def sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    h = ((F.col("doc_id") % _LCG_MOD) * _LCG_MUL) % _LCG_MOD
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _SAMPLE_K)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@register(
    "split_train_val_test",
    doc="Deterministic train/val/test assignment (the reproducible-split "
    "every training pipeline needs): multiplicative Knuth hash of doc_id "
    "→ bucket 0-99 → 80/10/10. Pure integer arithmetic so any engine "
    "derives the identical split — no engine-native hash in the contract. "
    "One codegen'd scan + tiny agg; trivially scale-safe.",
    tags=("pipeline", "sampling"),
    oracle="""
WITH b AS (
  SELECT lang, n_chars,
         ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM b GROUP BY 1, 2 ORDER BY split, lang
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * 2654435761) % 4294967296 % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.groupBy(split.alias("split"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("split", "lang")
    )


@register(
    "docs_bigram_lm_score",
    doc="Perplexity-proxy quality scoring (SURVEY §3 F9 — the n-gram LM "
    "filter of CCNet/Gopher pipelines, self-trained): global bigram + "
    "unigram counts over the corpus give P(w2|w1); each doc is scored by "
    "its mean log-probability. Two shuffles (gram counts, score join) "
    "keyed on the gram — Zipf keeps distinct grams far below token "
    "volume, so the model side stays broadcast-or-bucket friendly at "
    "100 TB. Output limited to doc_id < 200 for a bounded result.",
    tags=("text", "quality", "pipeline"),
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t
),
uni AS (
  SELECT tok, count(*) AS c1
  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
),
bgc AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
scored AS (
  SELECT bg.doc_id,
         round(ln(bgc.c2 * 1.0 /
               (SELECT c1 FROM uni WHERE tok = string_split(bg.bigram, ' ')[1])), 8)
           AS lp
  FROM bg JOIN bgc USING (bigram)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(lp), 4) AS avg_logprob
FROM scored WHERE doc_id < 200 GROUP BY doc_id ORDER BY doc_id
""",
)
def docs_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_query_confs(spark)
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    t = d.select("doc_id", toks.alias("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    bg = t.select("doc_id", F.explode(bigrams).alias("bigram"))
    uni = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    # The LM tables are corpus-global; at bench scale they are small enough
    # to broadcast, and Zipf keeps them sublinear in corpus size.
    model = bgc.withColumn("w1", F.split("bigram", " ").getItem(0)).join(
        F.broadcast(uni), F.col("w1") == F.col("tok")
    )
    scored = bg.join(F.broadcast(model.select("bigram", "c2", "c1")), "bigram").select(
        "doc_id",
        F.round(F.log(F.col("c2") * F.lit(1.0) / F.col("c1")), 8).alias("lp"),
    )
    return (
        scored.where(F.col("doc_id") < 200)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )
