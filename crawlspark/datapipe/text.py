"""Text analysis: tokenization, fingerprinting, TF-IDF, repetition and
surprisal features, PII redaction, span dedup.

Every function here is a pure Catalyst expression — zero Python in the hot
path, and SQL-portable so the DuckDB oracle pins each one exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# small, fixed English stopword set — shared with the DuckDB oracle (keep in
# sync with the oracle SQL in __spark_entry__.py)
STOP_EN = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (empty-safe)."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def hash60(col: Column) -> Column:
    """md5-derived 60-bit bigint — portable to DuckDB
    (('0x' || substr(md5(x),1,15))::BIGINT). Used wherever the oracle must
    reproduce a hash; the engine's own hot-path hash stays xxhash64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def content_fingerprint(text: Column) -> Column:
    """Whitespace-normalized content hash (exact-dedup key)."""
    return hash60(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


# ---------------------------------------------------------------------------
# TF-IDF (per-doc top terms — keyword extraction / doc signatures)
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = term count within the doc; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    sklearn-style); ties break by term asc. Plan: one explode → (doc, term)
    count with map-side partial agg, the term→df table joined back on `term`
    (tf is hash-partitioned by (doc_id, term) after its groupBy, so the join
    DOES re-exchange tf on term — the round-3 win here was dropping the
    forced broadcast and the eager count, not shuffle reuse; NO broadcast
    hint because a web-scale corpus has 10^8+ distinct terms, gigabytes if
    forced to every executor, and AQE will still broadcast dfreq when it
    actually fits), and a per-doc window
    whose partitions are bounded by the doc's own vocabulary — no global
    sort, no skew risk beyond a single doc's term count.

    N is derived INSIDE the plan (a 1-row count aggregate broadcast-joined
    in) — the round-2 version ran an eager df.count() at plan-build time, a
    full corpus pass before the real job that also broke lazy composition.
    """
    n_docs = df.select(F.count("*").cast("double").alias("_n"))
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("_n") + F.lit(1.0)) / (F.col("df") + 1)) + F.lit(1.0)
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
        .drop("_n")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


# ---------------------------------------------------------------------------
# PII scrubbing (pre-training redaction pass)
# ---------------------------------------------------------------------------

# explicit, engine-portable patterns (Java regex ∩ RE2): no lookaround, no
# backreferences, so Spark and DuckDB match the exact same spans
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Non-overlapping match counts per PII class."""
    return {
        name: F.regexp_count(text, F.lit(pat)) for name, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII span with a [CLASS] placeholder. Order matters:
    emails first (an email can contain digit runs), then phones, then IPs —
    the oracle applies the identical order."""
    out = text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out


# ---------------------------------------------------------------------------
# repetition / quality gates (Gopher-style pre-training filters)
# ---------------------------------------------------------------------------


def _grams(toks: Column, n: int) -> Column:
    """Word n-grams of a bound token array (empty for docs with < n tokens)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks_col: str | None = None,
) -> DataFrame:
    """Gopher-style repetition gates per document:

      * top_bigram_frac — occurrences of the most frequent word bigram over
        total bigrams (boilerplate/templating detector);
      * dup_5gram_frac — fraction of word 5-grams that are repeats
        (1 - distinct/total; loop/spam detector);
      * stopword_frac — stopword tokens over total tokens (gibberish gate);
      * keep — the composite admission verdict.

    Plan shape: the 5-gram and stopword metrics are pure array expressions
    (zero shuffle); the bigram mode needs a (doc_id, bigram) count, which is
    one explode + one partially-aggregated groupBy per doc — the only
    all-to-all traffic is one row per distinct (doc, bigram), never raw text.
    (Round 6 trialled a zero-shuffle row-local run-length max over the
    sorted bigram array; it measured ~20% SLOWER at sf1.0 — Catalyst
    higher-order-function lambdas are interpreted per element with a struct
    allocation per step, while the explode feeds whole-stage-codegen'd hash
    aggregates — the same trade simhash_agg documents. Kept the explode.)
    `toks_col` (round 6): callers that already hold the token array (e.g.
    curation_pipeline, which cuts its tokenized keepers once and feeds both
    this gate and sequence packing) pass it here to skip re-tokenizing —
    tokenization was the pipeline's single most repeated computation.
    """
    toksed = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(toks_col) if toks_col else tokens(F.col(text_col))).alias("_toks"),
    )
    g5 = _grams(F.col("_toks"), 5)
    dup5 = F.when(
        F.size(g5) > 0,
        F.lit(1.0) - F.size(F.array_distinct(g5)).cast("double") / F.size(g5),
    ).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(s) for s in STOP_EN])
    stop_frac = F.size(
        F.filter(F.col("_toks"), lambda t: F.array_contains(stop_arr, t))
    ).cast("double") / F.greatest(F.size("_toks"), F.lit(1))
    base = toksed.select(
        "doc_id",
        "_toks",
        F.round(dup5, 6).alias("dup_5gram_frac"),
        F.round(stop_frac, 6).alias("stopword_frac"),
    )
    bg_counts = (
        toksed.select("doc_id", F.explode(_grams(F.col("_toks"), 2)).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("_mx"), F.sum("cnt").alias("_tot"))
    )
    return (
        base.join(bg_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("_mx").cast("double") / F.col("_tot"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
            "dup_5gram_frac",
            "stopword_frac",
        )
        .withColumn(
            "keep",
            (F.col("top_bigram_frac") <= 0.2)
            & (F.col("dup_5gram_frac") <= 0.3)
            & (F.col("stopword_frac") >= 0.02),
        )
    )


# ---------------------------------------------------------------------------
# unigram surprisal — CCNet-style LM-perplexity quality filter, corpus-self-
# trained: rare-token-heavy (gibberish) and ultra-common-token (boilerplate)
# documents land at the distribution's tails
# ---------------------------------------------------------------------------


def unigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram surprisal −mean(ln p(tok)), with p from the
    corpus's own token counts (the cheap stand-in for the KenLM perplexity
    filter of CCNet-style pipelines; threshold on avg_surprisal to drop
    outlier docs).

    Plan: one explode → token counts (map-side partial agg), total-token
    count folded into the plan as a 1-row broadcast aggregate (no eager
    pass, same trick as tfidf_top_terms), token→count join co-partitioned on
    the token, one per-doc average. Fully lazy, two shuffles, no UDF.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    freq = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = tok.select(F.count("*").cast("double").alias("_n"))
    scored = (
        tok.join(freq, "term")
        .join(F.broadcast(total))
        .withColumn("_s", -F.log(F.col("cnt") / F.col("_n")))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.round(F.avg("_s"), 6).alias("avg_surprisal"),
    )


# ---------------------------------------------------------------------------
# duplicate-span removal — the C4 "remove repeated lines/spans across
# documents" pass at fixed token-window granularity
# ---------------------------------------------------------------------------


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
    max_df: int = 2,
) -> DataFrame:
    """Remove boilerplate SPANS (non-overlapping `window`-token chunks that
    occur in more than `max_df` documents) from every document — C4's
    cross-document line-dedup re-expressed for unlined text: navigation
    chrome, cookie banners, and license blocks repeat verbatim across pages
    and survive doc-level dedup because the surrounding text differs.

    Returns (doc_id, n_spans, n_removed, clean_md5) — the md5 of the
    reassembled (order-preserved) surviving text pins the exact removal
    spans cross-engine. Plan: explode non-overlapping chunks (array slice,
    zero overlap → corpus token count total, not a shingle blowup), one
    chunk-count aggregate, one co-partitioned join back, one ordered
    per-doc reassembly via sort_array over (pos, chunk) structs — no UDF,
    no window function.
    """
    toksed = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    )
    n_chunks = F.ceil(F.size("_toks") / F.lit(window)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(F.col("_toks"), i * window + 1, window), " "),
    )
    ch = toksed.filter(F.size("_toks") > 0).select(
        "doc_id", F.posexplode(chunks).alias("pos", "chunk")
    ).filter(F.col("chunk") != "")
    cdf = ch.groupBy("chunk").agg(F.count_distinct("doc_id").alias("_df"))
    marked = ch.join(cdf, "chunk").withColumn("_keep", F.col("_df") <= max_df)
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).cast("int").alias("n_removed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_keep"),
                                    F.struct(F.col("pos"), F.col("chunk")),
                                )
                            )
                        ),
                        lambda s: s.getField("chunk"),
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
    )


# ---------------------------------------------------------------------------
# rolling-hash character-shingle sketch — pure Catalyst, oracle-checkable
# ---------------------------------------------------------------------------


def charshingle_sketch(text: Column, k: int = 8, top: int = 8) -> Column:
    """`top` smallest md5-derived hashes over the k-char shingles of the
    normalized text — a compact winnowing-style document sketch for near-dup
    candidate generation. Zero Python: sequence→transform→array_sort→slice.
    (Replaces a per-string-Python Rabin-Karp UDF from round 1 — hash choice
    is free here as long as it's deterministic, so the SQL-portable hash60
    wins: vectorized AND DuckDB-oracle-checkable.)"""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    n_sh = F.length(norm) - (k - 1)
    hashes = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: hash60(F.substring(norm, i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.slice(F.array_sort(F.array_distinct(hashes)), 1, top)
