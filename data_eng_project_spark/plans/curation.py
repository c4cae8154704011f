"""Corpus-curation query surface: benchmark decontamination, sequence
packing, per-source profiling, embedding quantization, and streaming
sessionization — the remaining stages of a pretraining data pipeline
(operators/curation.py), each with an exact DuckDB oracle.

The reference has none of these (it is a civic-data ETL); they extend the
LLM-pipeline families mandated by the brief alongside dedup/similarity/
text analysis in plans/textdata.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.operators.curation import (
    decontaminate_overlap,
    pack_sequences,
    quantize_embeddings_int8,
    source_quality_profile,
)
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

# documents.source = 'src0' plays the held-out benchmark; the rest train.
_BENCH_SOURCE = "src0"
_OVERLAP_THRESHOLD = 0.2
_CHUNK_TOKENS = 512


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, source,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w,
                   generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, source,
                   w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle
            FROM words
            WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(w, 2) OVER win IS NOT NULL
        ), bench AS (
            SELECT DISTINCT shingle FROM sh WHERE source = '{_BENCH_SOURCE}'
        ), corpus AS (
            SELECT doc_id, shingle FROM sh WHERE source <> '{_BENCH_SOURCE}'
        ), sizes AS (
            SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id
        ), hits AS (
            SELECT c.doc_id, count(*) AS n_hit
            FROM corpus c JOIN bench b ON c.shingle = b.shingle
            GROUP BY c.doc_id
        ), alldocs AS (
            SELECT doc_id FROM documents WHERE source <> '{_BENCH_SOURCE}'
        )
        SELECT d.doc_id,
               CAST(coalesce(s.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
               round(CASE WHEN coalesce(s.n_shingles, 0) > 0
                          THEN coalesce(h.n_hit, 0) / s.n_shingles
                          ELSE 0.0 END, 6) AS overlap_ratio,
               CASE WHEN coalesce(s.n_shingles, 0) > 0
                    THEN coalesce(h.n_hit, 0) / s.n_shingles
                    ELSE 0.0 END >= {_OVERLAP_THRESHOLD} AS contaminated
        FROM alldocs d
        LEFT JOIN sizes s ON d.doc_id = s.doc_id
        LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
    tags=("curation", "decontamination", "ngram"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its distinct 3-gram shingles that appear in the held-out benchmark
    split — flagged above threshold. Broadcast semi-join on hashed
    shingles; never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_overlap(
        docs.filter(F.col("source") != _BENCH_SOURCE),
        docs.filter(F.col("source") == _BENCH_SOURCE),
        n=3,
        threshold=_OVERLAP_THRESHOLD,
    )


@register(
    "pack_sequences_chunked",
    oracle=f"""
        WITH t AS (
            SELECT source AS shard, doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT shard, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_offset
            FROM t
        )
        SELECT shard, doc_id, n_tokens,
               CAST(start_offset AS BIGINT) AS start_offset,
               CAST(floor(start_offset / {_CHUNK_TOKENS}.0) AS BIGINT) AS start_chunk,
               CAST(floor((start_offset + greatest(n_tokens - 1, 0)) / {_CHUNK_TOKENS}.0) AS BIGINT)
                   AS end_chunk,
               floor(start_offset / {_CHUNK_TOKENS}.0)
                   <> floor((start_offset + greatest(n_tokens - 1, 0)) / {_CHUNK_TOKENS}.0)
                   AS spans_boundary
        FROM c
    """,
    tags=("curation", "packing"),
)
def pack_sequences_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per shard (source), documents
    concatenate in id order into a token stream split into 512-token
    chunks; each doc gets its offset and chunk range. One windowed cumsum
    per shard — no global ordering."""
    return pack_sequences(
        load_table(spark, sf_dir, "documents"), chunk_tokens=_CHUNK_TOKENS
    )


@register(
    "source_quality_profile",
    oracle=r"""
        WITH per_doc AS (
            SELECT source, doc_id, lang, length(text) AS n_chars,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents
        ), fpc AS (
            SELECT source, fp, count(*) AS c FROM per_doc GROUP BY source, fp
        ), dups AS (
            SELECT source, sum(c) AS n_dup_docs FROM fpc WHERE c > 1 GROUP BY source
        ), lc AS (
            SELECT source, lang, count(*) AS lcnt FROM per_doc GROUP BY source, lang
        ), modal AS (
            SELECT source, lang AS modal_lang, lcnt AS n_modal
            FROM (
                SELECT source, lang, lcnt,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY lcnt DESC, lang DESC) AS rn
                FROM lc
            ) r WHERE rn = 1
        ), base AS (
            SELECT source, count(*) AS n_docs,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                   round(CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
                         / count(*), 6) AS avg_chars
            FROM per_doc GROUP BY source
        )
        SELECT b.source, b.n_docs, b.min_chars, b.max_chars, b.avg_chars,
               CAST(coalesce(d.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
               m.modal_lang,
               round(m.n_modal / b.n_docs, 6) AS modal_lang_share
        FROM base b
        LEFT JOIN dups d ON b.source = d.source
        JOIN modal m ON b.source = m.source
    """,
    tags=("curation", "profiling"),
)
def source_quality_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation rollup: volume, length stats, exact-dup rate,
    modal-language purity — the table sources get pruned by."""
    return source_quality_profile(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_quantize_int8",
    oracle="""
        WITH v AS (
            SELECT vec_id, len(embedding) AS dim,
                   CAST(embedding AS DOUBLE[]) AS xs,
                   127.0 / nullif(list_max(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> abs(x))), 0.0) AS scale
            FROM embeddings
        )
        SELECT vec_id, dim, round(scale, 6) AS scale,
               CAST(list_sum(list_transform(
                   xs, x -> CAST(round(x * scale) AS INT))) AS BIGINT) AS q_sum,
               round(sqrt(list_sum(list_transform(
                   xs, x -> (x - round(x * scale) / scale)
                          * (x - round(x * scale) / scale))) / dim), 6) AS rmse
        FROM v
    """,
    tags=("curation", "similarity", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization with round-trip
    RMSE — row-local array math in codegen, no shuffle, no Python."""
    return quantize_embeddings_int8(load_table(spark, sf_dir, "embeddings"))


@register(
    "quantized_topk_agreement",
    # Fully SQL-recomputable: the oracle re-derives the int8 codes with
    # the same per-vector-scale expression as embedding_quantize_int8,
    # ranks every probe's corpus by BOTH the float cosine and the
    # code cosine (6-dp round + id tie-break — the engine-proven
    # deterministic-ranking idiom from similarity_topk), and counts the
    # two top-k sets' intersection. Overlap is tie-stable because both
    # engines rank identical rounded doubles.
    oracle="""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xs,
                   127.0 / nullif(list_max(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> abs(x))), 0.0) AS scale
            FROM embeddings
        ), q AS (
            SELECT vec_id, xs,
                   list_transform(xs, x -> round(x * scale)) AS qs
            FROM v
        ), probes AS (
            -- fixed-size audit panel: the 100 smallest matching ids,
            -- so the probe share does NOT grow with the corpus (the
            -- cap is the linear-scale guarantee; see the operator)
            SELECT * FROM q WHERE vec_id % 50 = 0
            ORDER BY vec_id LIMIT 100
        ), scored AS (
            -- cosine replayed with the engine's nullif-guarded form
            -- (NOT list_cosine_similarity, which returns -1.0 for a
            -- zero vector where the guarded Spark expression yields
            -- NULL): both engines then rank zero vectors NULLS LAST,
            -- so the bottom of the ranking agrees by construction.
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                   round(list_dot_product(c.xs, p.xs) / nullif(
                       sqrt(list_dot_product(c.xs, c.xs))
                       * sqrt(list_dot_product(p.xs, p.xs)), 0.0), 6) AS cf,
                   round(list_dot_product(c.qs, p.qs) / nullif(
                       sqrt(list_dot_product(c.qs, c.qs))
                       * sqrt(list_dot_product(p.qs, p.qs)), 0.0), 6) AS cq
            FROM q c CROSS JOIN probes p
        ), tf AS (
            SELECT probe_id, cand_id FROM (
                SELECT probe_id, cand_id, row_number() OVER (
                    PARTITION BY probe_id
                    ORDER BY cf DESC NULLS LAST, cand_id) AS r
                FROM scored) WHERE r <= 10
        ), tq AS (
            SELECT probe_id, cand_id FROM (
                SELECT probe_id, cand_id, row_number() OVER (
                    PARTITION BY probe_id
                    ORDER BY cq DESC NULLS LAST, cand_id) AS r
                FROM scored) WHERE r <= 10
        ), ov AS (
            SELECT tf.probe_id, count(*) AS cnt
            FROM tf JOIN tq USING (probe_id, cand_id)
            GROUP BY tf.probe_id
        )
        SELECT p.vec_id AS probe_id,
               CAST(coalesce(ov.cnt, 0) AS BIGINT) AS n_overlap
        FROM probes p LEFT JOIN ov ON p.vec_id = ov.probe_id
    """,
    tags=("curation", "similarity", "quantization", "evaluation"),
)
def quantized_topk_agreement_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the 4× int8 storage cut change what a search RETURNS?
    Overlap@10 between the float-cosine and int8-code-cosine top-k for
    an audit probe set (measured 9-10/10 at sf0.01 — the quantizer is
    retrieval-safe) — the retrieval-impact companion to
    embedding_quantize_int8's reconstruction RMSE (see
    operators/curation.quantized_topk_agreement)."""
    from data_eng_project_spark.operators.curation import (
        quantized_topk_agreement,
    )

    return quantized_topk_agreement(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") % 50 == 0,
        k=10,
        max_probes=100,
    )


@register(
    "streaming_sessionize",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), numbered AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) AS session_end_us,
               count(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_id
    """,
    tags=("streaming", "session", "stateful"),
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session windows (merging-window state, 30-min
    gap) drained with AvailableNow; the final sessions must equal the
    batch gaps-and-islands oracle row-for-row (compared on event-time
    bounds, which the gap-padded window end would not allow)."""
    import uuid

    from data_eng_project_spark.streaming.incremental import read_events_stream
    from data_eng_project_spark.streaming.windows import (
        run_available_now,
        session_bounds_stream,
    )
    from data_eng_project_spark.tables import table_path

    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    return run_available_now(
        session_bounds_stream(stream), f"mem_sessions_{uuid.uuid4().hex[:8]}"
    )


@register(
    "repetition_filter_signals",
    oracle=r"""
        WITH words AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS w,
                   generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
            FROM documents
        ), wc AS (
            SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
        ), per_word AS (
            SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_word_n,
                   count(*) AS n_distinct_words
            FROM wc GROUP BY doc_id
        ), bg AS (
            SELECT doc_id, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM words
        ), bgc AS (
            SELECT doc_id, w, w2, count(*) AS c
            FROM bg WHERE w2 IS NOT NULL GROUP BY doc_id, w, w2
        ), per_bg AS (
            SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
            FROM bgc GROUP BY doc_id
        )
        SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens,
               round(p.n_distinct_words / p.n_tokens, 6) AS distinct_ratio,
               round(p.top_word_n / p.n_tokens, 6) AS top_word_frac,
               round(b.top_bigram_n / b.n_bigrams, 6) AS top_bigram_frac,
               (p.top_word_n / p.n_tokens > 0.30
                OR coalesce(b.top_bigram_n / b.n_bigrams > 0.18, false))
                   AS repetitive
        -- LEFT: a one-token doc has no bigram row but keeps its output
        -- row (NULL top_bigram_frac), mirroring the operator
        FROM per_word p LEFT JOIN per_bg b USING (doc_id)
    """,
    tags=("curation", "quality", "repetition"),
)
def repetition_filter_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top-word / top-bigram coverage,
    distinct-word ratio) with a repetitive flag — all shuffles keyed on
    doc_id, word-count-shaped at scale."""
    from data_eng_project_spark.operators.curation import repetition_signals

    return repetition_signals(load_table(spark, sf_dir, "documents"))


@register(
    "mixture_sample_by_source",
    oracle=r"""
        SELECT source, count(*) AS n_sampled,
               CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                                        x -> x <> ''))) AS BIGINT)
                   AS sampled_tokens
        FROM documents
        WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 <
              (CASE CAST(substr(source, 4) AS INT) % 4
               WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 20 ELSE 10 END)
        GROUP BY source
    """,
    tags=("curation", "sampling", "mixture"),
)
def mixture_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture sampling: per-source keep rates
    (100/50/20/10% by source index mod 4) applied via a multiplicative
    id hash — a pure pushdown filter, reproducible on any cluster."""
    from data_eng_project_spark.operators.curation import mixture_sample

    src_num = F.substring("source", 4, 10).cast("int")
    rate = (
        F.when(src_num % 4 == 0, 100)
        .when(src_num % 4 == 1, 50)
        .when(src_num % 4 == 2, 20)
        .otherwise(10)
    )
    return mixture_sample(load_table(spark, sf_dir, "documents"), rate_pct=rate)


@register(
    "length_trim_percentile",
    oracle="""
        WITH ranked AS (
            SELECT lang, n_chars,
                   rank() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS rk,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM documents
        )
        SELECT lang, count(*) AS n_kept, max(n) AS n_total,
               min(n_chars) AS min_kept, max(n_chars) AS max_kept
        FROM ranked
        WHERE (rk - 1) * 100 >= 5 * (n - 1) AND (rk - 1) * 100 <= 95 * (n - 1)
        GROUP BY lang
    """,
    tags=("curation", "quality", "percentile"),
)
def length_trim_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-percentile trim ([p5, p95] by percent-rank,
    exact integer boundary arithmetic — no float interpolation)."""
    from data_eng_project_spark.operators.curation import length_trim_by_group

    return length_trim_by_group(load_table(spark, sf_dir, "documents"))


@register(
    "export_shard_manifest",
    oracle=f"""
        WITH t AS (
            SELECT source AS shard, doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT shard, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_offset
            FROM t
        )
        SELECT shard, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(max(CAST(floor((start_offset + greatest(n_tokens - 1, 0))
                                   / {_CHUNK_TOKENS}.0) AS BIGINT)) + 1
                    AS BIGINT) AS n_chunks
        FROM c GROUP BY shard
    """,
    tags=("curation", "packing", "export"),
)
def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard training-export manifest (docs/tokens/chunks) — the
    aggregate of the pack annotations export_training_shards writes; the
    export side effect itself is exercised in pytest (this query
    computes the manifest without writing)."""
    packed = pack_sequences(
        load_table(spark, sf_dir, "documents"), chunk_tokens=_CHUNK_TOKENS
    )
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        (F.max("end_chunk") + 1).cast("bigint").alias("n_chunks"),
    )


@register(
    "chunk_assembly_plan",
    oracle=f"""
        WITH t AS (
            SELECT source AS shard, doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT shard, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_offset
            FROM t
        ), spans AS (
            SELECT shard, doc_id, n_tokens, start_offset,
                   unnest(range(CAST(floor(start_offset / {_CHUNK_TOKENS}.0)
                                     AS BIGINT),
                                CAST(floor((start_offset + greatest(n_tokens - 1, 0))
                                           / {_CHUNK_TOKENS}.0) AS BIGINT) + 1))
                       AS chunk_id
            FROM c WHERE n_tokens > 0
        )
        SELECT shard, CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
               CAST(greatest(chunk_id * {_CHUNK_TOKENS} - start_offset, 0)
                    AS BIGINT) AS doc_slice_start,
               CAST(least((chunk_id + 1) * {_CHUNK_TOKENS} - start_offset,
                          n_tokens) AS BIGINT) AS doc_slice_end
        FROM spans
    """,
    tags=("curation", "packing", "loader"),
)
def chunk_assembly_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-loader's read plan for packed shards: per (shard, chunk),
    every contributing document with the [start, end) token sub-range it
    supplies — each doc explodes into exactly the chunks its span
    touches (sequence() over the chunk range, never a join against a
    chunk table), so assembly cost is output-sized. With this table a
    loader gathers one fixed-size training chunk by slicing the listed
    docs in order — the exact inverse of pack_sequences' layout."""
    packed = pack_sequences(
        load_table(spark, sf_dir, "documents"), chunk_tokens=_CHUNK_TOKENS
    ).filter(F.col("n_tokens") > 0)
    spans = packed.select(
        "shard",
        "doc_id",
        "n_tokens",
        "start_offset",
        F.explode(
            F.sequence(F.col("start_chunk"), F.col("end_chunk"))
        ).alias("chunk_id"),
    )
    ct = F.lit(_CHUNK_TOKENS)
    return spans.select(
        "shard",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "doc_id",
        F.greatest(F.col("chunk_id") * ct - F.col("start_offset"), F.lit(0))
        .cast("bigint")
        .alias("doc_slice_start"),
        F.least(
            (F.col("chunk_id") + 1) * ct - F.col("start_offset"), F.col("n_tokens")
        )
        .cast("bigint")
        .alias("doc_slice_end"),
    )
