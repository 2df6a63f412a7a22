"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship frontier-semantics pipeline over sf0.001.
`queries()` — one entry per implemented operator (SURVEY.md §2 + the
training-data pipeline ops), each a (spark, sf_dir) -> DataFrame callable.
`oracle_sql()` — matching ANSI SQL for DuckDB over the same parquet views.
Queries without an oracle entry are genuinely non-SQL-expressible (the BSP
crawl loop, bloom tier, image decode) and get rows-only checks.

Column names are aliased identically on both sides; doubles are rounded on
both sides; timestamps are reduced to epoch microseconds (bigint) so the
order-insensitive value-hash comparison is stable.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# crawlspark lives next to this file; make it importable however the driver
# loaded this module (spec loader, different cwd, …)
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DEFAULT = "/root/testdata/sf0.001"

STOP_EN = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"]
STOP_DE = ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"]
STOP_FR = ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# one scan split per ~128 MB of input (the spark.sql.files.maxPartitionBytes
# default); below this a parquet file with one row group yields ONE scan task
_SPLIT_BYTES = 128 * 1024 * 1024


def _tp(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Parallelism-guarded read for tables whose downstream does heavy
    row-local work (tokenize/shingle/hash explodes, numpy kernels).

    A small parquet file with a single row group is unsplittable: the whole
    scan — and every row-local expression fused into it — runs as ONE task
    on one core (guide §2.5 "input skew", §6 input split size). When the
    file is too small for the scan to parallelize on its own, rebalance with
    one hash repartition on the row key (deterministic — never round-robin,
    see guide §2.5 on rand-derived keys) sized to the cluster's default
    parallelism. At real scale (inputs ≫ one split) this is a no-op, so the
    guard never adds a corpus-wide shuffle where the scan already fans out."""
    df = _t(spark, sf_dir, name)
    try:
        sz = os.path.getsize(f"{sf_dir}/{name}.parquet")
    except OSError:
        return df
    if sz >= _SPLIT_BYTES:
        return df
    # sized to spark.sql.shuffle.partitions (not core count) so downstream
    # key-joins/aggregations on the same key can reuse this exchange
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.col(key))


def _priority_expr():
    # event_type → crawl priority class (FIXTURES.md §B mapping)
    return (
        F.when(F.col("event_type").isin("error", "purchase"), 0)
        .when(F.col("event_type").isin("signup", "view"), 1)
        .otherwise(2)
        .cast("int")
    )


_PRIORITY_SQL = (
    "CASE WHEN event_type IN ('error','purchase') THEN 0 "
    "WHEN event_type IN ('signup','view') THEN 1 ELSE 2 END"
)


def _hash60(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}),1,15)) AS BIGINT)"


def _tokens(col):
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != "")


_TOKENS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"


def _stop_hits(col, words):
    arr = F.array(*[F.lit(s) for s in words])
    return F.size(F.filter(_tokens(col), lambda t: F.array_contains(arr, t)))


def _stop_hits_sql(words) -> str:
    lst = ",".join(f"'{w}'" for w in words)
    return f"len(list_filter({_TOKENS_SQL}, t -> list_contains([{lst}], t)))"


# ===========================================================================
# entry — flagship: one full frontier wave over the events stand-in table
# ===========================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Wave selection end-to-end on sf0.001: priority classes + FIFO windows,
    per-host (user) politeness top-k, dedup anti-join vs 'already seen', and
    global budget — the SURVEY.md §3.4 pipeline stages 1-4 over driver data."""
    ev = _t(spark, SF_DEFAULT, "events").withColumn("priority", _priority_expr())
    # "seen": the earliest event per (user, props) key is already crawled
    w_seen = Window.partitionBy("user_id", "props").orderBy("ts", "event_id")
    seen = (
        ev.withColumn("rn", F.row_number().over(w_seen))
        .filter(F.col("rn") == 1)
        .select(F.col("event_id").alias("seen_id"))
    )
    fresh = ev.join(seen, ev.event_id == seen.seen_id, "left_anti")
    w_host = Window.partitionBy("user_id").orderBy("priority", "ts", "event_id")
    polite = fresh.withColumn("host_rank", F.row_number().over(w_host)).filter(
        F.col("host_rank") <= 8
    )
    return (
        polite.orderBy("priority", "ts", "event_id")
        .limit(200)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "priority",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "host_rank",
        )
    )


# ===========================================================================
# queries + oracles
# ===========================================================================


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # ---- frontier / scheduling semantics (SURVEY.md §2.1 F-1..F-18) ------
    def fifo_within_priority(spark, sf):
        # F-2: FIFO within a priority channel (memory.go:29-69). Ranked with
        # the engine's range-partitioned scheme (frontier.ranked_within) —
        # Window.partitionBy over 3 priority values would be 3 single-task
        # sorts, a scale-killer at 100×
        from crawlspark.frontier import ranked_within

        # round 6: project to the 3 needed columns BEFORE ranking —
        # ranked_within cuts its range-partitioned frame (a lineage cut),
        # which blocks Catalyst's column pruning, so the unprojected form
        # would shuffle and store every events column (props is a JSON
        # string, the widest).
        # Guide §2.3 "project before the exchange". Output unchanged.
        # ... and pre-spread the single-row-group scan (guide §2.5) AFTER the
        # projection, so only the 3 needed columns cross the rebalance and
        # the range-sampling pass reads the already-computed shuffle instead
        # of re-running the one-task parquet decode (A/B: cold 8.3 → 2.5 s)
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        ev = (
            _t(spark, sf, "events")
            .withColumn("priority", _priority_expr())
            .select("event_id", "ts", "priority")
            .repartition(n, F.col("event_id"))
        )
        return ranked_within(
            ev, ["priority"], ["ts", "event_id"], "fifo_rank"
        ).select("event_id", "priority", "fifo_rank")

    q["fifo_within_priority"] = fifo_within_priority

    def priority_dequeue_topk(spark, sf):
        # F-2: strict-priority global dequeue under a budget (TakeOrdered plan)
        ev = _t(spark, sf, "events").withColumn("priority", _priority_expr())
        return (
            ev.orderBy("priority", "ts", "event_id")
            .limit(500)
            .select("event_id", "priority", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
        )

    q["priority_dequeue_topk"] = priority_dequeue_topk

    def dedup_first_per_key(spark, sf):
        # C-2 analog: first fetch wins per dedup key. Round 6: project to the
        # 4 needed columns and rebalance the single-row-group scan on the
        # window keys — the window then rides the explicit exchange and the
        # one-task parquet decode parallelizes (guide §2.5; A/B 2.2 → 1.0 s
        # at sf1.0). Same window, identical output.
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        ev = (
            _t(spark, sf, "events")
            .select("user_id", "props", "ts", "event_id")
            .repartition(n, F.col("user_id"), F.col("props"))
        )
        w = Window.partitionBy("user_id", "props").orderBy("ts", "event_id")
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "props", F.col("event_id").alias("first_event"))
        )

    q["dedup_first_per_key"] = dedup_first_per_key

    def politeness_topk(spark, sf):
        # per-host budget window (engine stage 3). Round 6: same
        # project-then-rebalance treatment as dedup_first_per_key.
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        ev = (
            _t(spark, sf, "events")
            .withColumn("priority", _priority_expr())
            .select("user_id", "priority", "ts", "event_id")
            .repartition(n, F.col("user_id"))
        )
        w = Window.partitionBy("user_id").orderBy("priority", "ts", "event_id")
        return (
            ev.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 3)
            .select("user_id", "event_id", "rk")
        )

    q["politeness_topk"] = politeness_topk

    def backoff_eligibility(spark, sf):
        # F-14: virtual-time backoff arithmetic (scrapemate.go:398-453)
        # round 6: the wave timestamp is folded into the plan as a broadcast
        # 1-row aggregate instead of an eager .collect() at build time — the
        # old form paid a full extra events scan inside the timed region and
        # broke lazy composition (same trick as tfidf's in-plan N). Result
        # identical: max(ts) is exact either way.
        ev = _t(spark, sf, "events")
        retry = (F.col("event_id") % 5 + 1).cast("int")
        delay = F.least(
            F.lit(100000) * F.pow(F.lit(2.0), retry - 1), F.lit(2000000.0)
        ).cast("long")
        wave = ev.agg(
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_wave_ts")
        )
        return ev.crossJoin(F.broadcast(wave)).select(
            "event_id",
            retry.alias("retry"),
            delay.alias("delay_us"),
            (
                (F.unix_micros(F.col("ts").cast("timestamp")) + delay)
                <= (F.col("_wave_ts") - F.lit(86400000000))
            ).alias("eligible"),
        )

    q["backoff_eligibility"] = backoff_eligibility

    def retry_cap_clamp(spark, sf):
        # F-15: attempts = 1 + max(0, min(max_retries, 5)) (scrapemate.go:455-464)
        ev = _t(spark, sf, "events")
        mr = (F.col("event_id") % 9 - 1).cast("int")
        eff = F.greatest(F.lit(0), F.least(mr, F.lit(5)))
        return ev.select(
            "event_id", mr.alias("max_retries"), (eff + 1).cast("int").alias("attempts")
        )

    q["retry_cap_clamp"] = retry_cap_clamp

    def cache_key_md5(spark, sf):
        # C-1: md5(method:url) cache key (job.go:117-130)
        d = _t(spark, sf, "documents")
        url = F.concat(F.lit("http://"), F.col("source"), F.lit("/doc/"), F.col("doc_id"))
        return d.select(
            "doc_id", F.md5(F.concat(F.lit("GET:"), url)).alias("cache_key")
        )

    q["cache_key_md5"] = cache_key_md5

    def host_bucket_salted(spark, sf):
        # salted host bucketing (md5-portable twin of the xxhash64 bucket)
        d = _t(spark, sf, "documents")
        b = F.pmod(_hash60(F.concat(F.lit("42|"), F.col("source"))), F.lit(64)).cast("int")
        return d.select("source", b.alias("bucket")).distinct()

    q["host_bucket_salted"] = host_bucket_salted

    def result_gate(spark, sf):
        # O-1 result-emit gate + F-5 init-result discard (job.go:112-114,
        # scrapemate.go:489-523, 585-591): deterministic per-job flags, only
        # (use_in_results AND NOT is_init) rows reach the results stream
        ev = _t(spark, sf, "events")
        use = (F.col("event_id") % 5) != 0
        is_init = (F.col("event_id") % 7) == 0
        return ev.select(
            "event_id", use.alias("use_in_results"), is_init.alias("is_init")
        ).filter(F.col("use_in_results") & ~F.col("is_init")).select("event_id", "use_in_results")

    q["result_gate"] = result_gate

    def timeout_outcomes(spark, sf):
        # F-17 per-job timeout (job.go:259-262): latency > timeout_us → 599
        # sentinel, same retry path as a 5xx
        ev = _t(spark, sf, "events")
        lat = (F.col("event_id") * 7919) % 50000
        to = F.when((F.col("event_id") % 3) == 0, F.lit(20000)).otherwise(F.lit(None))
        timed_out = to.isNotNull() & (lat > to)
        return ev.select(
            "event_id",
            lat.cast("long").alias("latency_us"),
            to.cast("long").alias("timeout_us"),
            F.when(timed_out, 599).otherwise(200).cast("int").alias("status"),
            F.when(timed_out, to).otherwise(lat).cast("long").alias("elapsed_us"),
        )

    q["timeout_outcomes"] = timeout_outcomes

    def private_net_guard(spark, sf):
        # F-22 private-network guard (local_proxy.go:375-386): loopback/
        # RFC-1918/link-local hosts refused at admission
        from crawlspark.politeness import is_private_host

        ev = _t(spark, sf, "events")
        host = (
            F.when(F.col("event_id") % 6 == 0, F.lit("127.0.0.1"))
            .when(F.col("event_id") % 6 == 1, F.lit("10.0.0.5"))
            .when(F.col("event_id") % 6 == 2, F.lit("192.168.1.9"))
            .when(F.col("event_id") % 6 == 3, F.lit("172.20.1.1"))
            .when(F.col("event_id") % 6 == 4, F.lit("example.com"))
            .otherwise(F.lit("172.15.3.3"))
        )
        return ev.select(
            "event_id", host.alias("host"), is_private_host(host).alias("blocked")
        )

    q["private_net_guard"] = private_net_guard

    def proxy_url_parse(spark, sf):
        # F-20: NewProxy parsing (proxy.go:32-63, proxy_test.go:10-99) —
        # default socks5:// scheme, scheme allow-list, credential split
        from crawlspark.proxy import proxy_parse_cols

        ev = _t(spark, sf, "events")
        hostpart = F.concat(F.lit("p"), (F.col("event_id") % 20).cast("string"), F.lit(".example.com:1080"))
        u = (
            F.when(F.col("event_id") % 7 == 0, F.concat(F.lit("socks5://user:pass@"), hostpart))
            .when(F.col("event_id") % 7 == 1, F.concat(F.lit("http://"), hostpart))
            .when(F.col("event_id") % 7 == 2, F.concat(F.lit("user:pass@"), hostpart))
            .when(F.col("event_id") % 7 == 3, hostpart)
            .when(F.col("event_id") % 7 == 4, F.concat(F.lit("socks5://user@"), hostpart))
            .when(F.col("event_id") % 7 == 5, F.concat(F.lit("SOCKS5://user:@"), hostpart))
            .otherwise(F.concat(F.lit("ftp://user:pass@"), hostpart))
        )
        c = proxy_parse_cols(u)
        return ev.select(
            "event_id",
            u.alias("raw"),
            c["valid"].alias("valid"),
            c["clean_url"].alias("clean_url"),
            c["username"].alias("username"),
            c["password"].alias("password"),
        )

    q["proxy_url_parse"] = proxy_url_parse

    def proxy_round_robin(spark, sf):
        # F-18: Next() = atomic counter % len(proxies) (adapters/proxy/proxy.go:54-60)
        ev = _t(spark, sf, "events")
        return ev.select(
            "event_id", (F.col("event_id") % 7).cast("int").alias("proxy_id")
        )

    q["proxy_round_robin"] = proxy_round_robin

    def metrics_rollup(spark, sf):
        # M-1/M-2: per-wave metrics rollup
        ev = _t(spark, sf, "events").withColumn("priority", _priority_expr())
        return (
            ev.rollup("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
                F.max("priority").alias("max_priority"),
            )
        )

    q["metrics_rollup"] = metrics_rollup

    def sessionize_lag(spark, sf):
        # window-analytic coverage: lag + gap-based session counting
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
        new_s = F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
        return (
            ev.withColumn("new_s", new_s)
            .groupBy("user_id")
            .agg(F.sum("new_s").cast("long").alias("n_sessions"), F.count("*").alias("n_events"))
        )

    q["sessionize_lag"] = sessionize_lag

    def json_props_extract(spark, sf):
        # §2.2 JSON fns: get_json_object / from_json / to_json round-trip
        # over the events.props JSON column
        ev = _t(spark, sf, "events")
        return ev.select(
            "event_id",
            F.get_json_object("props", "$.k").alias("k_str"),
            F.from_json("props", "k int")["k"].alias("k_int"),
            F.to_json(F.from_json("props", "k int")).alias("props_norm"),
        )

    q["json_props_extract"] = json_props_extract

    def approx_distinct_users(spark, sf):
        # §2.2 approx distinct: HLL++ estimate asserted within 5% of exact —
        # the deterministic estimate makes the tolerance check oracle-able
        ev = _t(spark, sf, "events")
        return ev.agg(
            F.countDistinct("user_id").alias("exact_users"),
            (
                F.abs(F.approx_count_distinct("user_id") - F.countDistinct("user_id"))
                <= F.countDistinct("user_id") * 0.05
            ).alias("approx_ok"),
        )

    q["approx_distinct_users"] = approx_distinct_users

    # ---- join/agg plumbing over the TPC-H-ish star ------------------------
    def q1_lineitem_agg(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("sum_disc_price"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )

    q["q1_lineitem_agg"] = q1_lineitem_agg

    def broadcast_join_revenue(spark, sf):
        li = _t(spark, sf, "lineitem")
        part = _t(spark, sf, "part")
        return (
            li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("revenue"),
                F.count("*").alias("n_items"),
            )
        )

    q["broadcast_join_revenue"] = broadcast_join_revenue

    def topk_suppliers_per_nation(spark, sf):
        s = _t(spark, sf, "supplier")
        n = _t(spark, sf, "nation")
        w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
        return (
            s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 3)
            .select("n_name", "s_name", F.round("s_acctbal", 4).alias("acctbal"), "rk")
        )

    q["topk_suppliers_per_nation"] = topk_suppliers_per_nation

    # ---- text analysis over documents -------------------------------------
    # (round 4: token_count, bpe_token_count, punct_quality and
    # lang_id_heuristic were consolidated into ONE text_features query so the
    # whole contract fits the driver's 50-row CORRECTNESS window; the four
    # originals stay oracle-pinned in tests/test_retired_contract.py)
    def text_features(spark, sf):
        # P-4 scalar extraction, one pass over documents: whitespace token
        # count, BPE-ish subword count (runs of alnum, ceil(len/4) pieces),
        # punctuation ratio, composite quality score, stopword language-ID
        # round 6: the token array is bound to a column ONCE — the previous
        # form re-ran the split+filter tokenization 5× per row (n_tok + one
        # _stop_hits per language + the stop-ratio), and whole-stage codegen
        # does not share higher-order-function subtrees (guide §4: prefer
        # computing an expensive intermediate once). Same expressions, same
        # rounding, identical output.
        d = _tp(spark, sf, "documents", "doc_id")
        t = F.col("text")
        n = F.length(t)
        stripped = F.length(F.regexp_replace(t, r"[.,!?;:'\"()\-]", ""))
        pr = F.when(n > 0, (n - stripped).cast("double") / n).otherwise(F.lit(0.0))
        pieces = F.filter(F.split(t, r"[^A-Za-z0-9]+"), lambda w: w != "")
        subwords = F.aggregate(
            pieces,
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
        )

        def _hits(words):
            arr = F.array(*[F.lit(s) for s in words])
            return F.size(F.filter(F.col("_toks"), lambda tk: F.array_contains(arr, tk)))

        # `_pr` stays UNROUNDED into the score (the original summed the raw
        # ratio before the final 6-dp round; rounding first could flip the
        # last digit of `quality`)
        toksed = d.select(
            "doc_id", "lang", _tokens(t).alias("_toks"),
            pr.alias("_pr"),
            subwords.alias("n_subwords"),
        )
        n_tok = F.size(F.col("_toks"))
        stop_r = _hits(STOP_EN).cast("double") / F.greatest(n_tok, F.lit(1))
        score = (
            F.when((n_tok >= 5), F.lit(0.4)).otherwise(F.lit(0.0))
            + F.least(stop_r * 4.0, F.lit(0.4))
            + F.greatest(F.lit(0.0), F.lit(0.2) - F.col("_pr"))
        )
        en, de, fr = (_hits(s) for s in (STOP_EN, STOP_DE, STOP_FR))
        pred = (
            F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
            .when((de >= fr) & (de > 0), F.lit("de"))
            .when(fr > 0, F.lit("fr"))
            .otherwise(F.lit("und"))
        )
        return toksed.select(
            "doc_id",
            n_tok.cast("long").alias("n_tokens"),
            "n_subwords",
            F.round(F.col("_pr"), 6).alias("punct_ratio"),
            F.round(score, 6).alias("quality"),
            "lang",
            pred.alias("lang_pred"),
        )

    q["text_features"] = text_features

    def doc_fingerprint(spark, sf):
        # whole-doc fingerprint (exact-dedup key) + winnowing-style top-8
        # smallest 8-char-shingle hashes sketch — pure Catalyst, zero Python
        # (round 4: absorbed the separate charshingle_sketch contract query)
        from crawlspark.datapipe.text import charshingle_sketch as sk

        d = _tp(spark, sf, "documents", "doc_id")
        fp = _hash60(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
        return d.select(
            "doc_id",
            fp.alias("fingerprint"),
            F.array_join(
                F.transform(sk(F.col("text")), lambda x: x.cast("string")), ","
            ).alias("sketch"),
        )

    q["doc_fingerprint"] = doc_fingerprint

    # ---- dedup family ------------------------------------------------------
    def dedup_exact(spark, sf):
        # round 6: one hash aggregate (min keeper + count per fingerprint,
        # map-side partial agg) replaces TWO window functions over the same
        # partition — the windows forced a full sort per fingerprint group
        # and carried every row to the reducer; the aggregate ships one
        # partial row per (partition, fingerprint). Identical output:
        # min(doc_id) == the rn=1 row of an orderBy(doc_id) window.
        d = _tp(spark, sf, "documents", "doc_id")
        fp = _hash60(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
        return (
            d.select("doc_id", fp.alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").alias("keeper"),
                F.count("*").alias("dup_count"),
            )
            .select("keeper", "fingerprint", "dup_count")
        )

    q["dedup_exact"] = dedup_exact

    # (round 4: minhash_signatures and simhash_16bit retired from the contract
    # — subsumed by minhash_lsh_candidates / simhash_band_pairs, which consume
    # the same signatures; still oracle-pinned in tests/test_retired_contract.py)
    def ngram_jaccard_pairs(spark, sf):
        from crawlspark.datapipe.dedup import ngram_jaccard_pairs as nj

        return nj(_tp(spark, sf, "documents", "doc_id"), min_jaccard=0.5)

    q["ngram_jaccard_pairs"] = ngram_jaccard_pairs

    def minhash_lsh_candidates(spark, sf):
        # rows-only: banded LSH candidate pairs (bucket strings are md5 of
        # ordered signatures — same algorithm, join-bounded)
        from crawlspark.datapipe.dedup import lsh_candidate_pairs

        d = _tp(spark, sf, "documents", "doc_id")
        return lsh_candidate_pairs(d, k=8, bands=4).select(
            "doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard")
        )

    q["minhash_lsh_candidates"] = minhash_lsh_candidates

    # ---- similarity search over embeddings ---------------------------------
    # (round 4: cosine_topk_bruteforce retired from the contract — subsumed by
    # ivf_topk_probe's exact re-rank inside probed cells and pq_adc_topk's
    # two-phase top-k, which share its kernel; oracle-pinned in
    # tests/test_retired_contract.py)
    def embedding_neardup(spark, sf):
        # round 4: re-pointed from the all-pairs crossJoin oracle baseline to
        # the bucketed scale path — sign-bit LSH home ∪ ≤2-bit-adjacent probe
        # buckets (probe_bits=2 since round 5, the recall fix),
        # exact numpy cosine inside candidates, threshold on the
        # 6-dp-rounded value (both engines). The crossJoin variant survives
        # as the recall oracle in tests/test_datapipe_new.py only. Threshold
        # 0.3 sits inside the synthetic corpus's cosine range (max ≈ 0.44) so
        # the oracle row carries real rows — the r3 threshold of 0.9 made the
        # row a trivially-green 0 == 0.
        from crawlspark.datapipe.dedup import embedding_neardup_bucketed

        e = _t(spark, sf, "embeddings").withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        )
        return embedding_neardup_bucketed(
            e.filter(F.col("vec_id") < 200), threshold=0.3, n_bits=6, dim=64
        )

    q["embedding_neardup"] = embedding_neardup

    def ivf_topk_probe(spark, sf):
        # IVF-flat ANN: sampled-k-means centroids (round 4 — deterministic,
        # mirrored step-for-step in the DuckDB twin), argmax cell assignment,
        # 2-probe search, exact top-k inside probed cells — the O(corpus)
        # scale path for similarity search
        from crawlspark.datapipe.similarity import ivf_topk

        e = _tp(spark, sf, "embeddings", "vec_id").withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        )
        return ivf_topk(e, e.filter(F.col("vec_id") < 8), k=5, n_cells=8, n_probe=2)

    q["ivf_topk_probe"] = ivf_topk_probe

    def lsh_bucket_similarity(spark, sf):
        # sign-bit LSH bucketed exact-cosine pairs (the O(n) path); the
        # md5-derived hyperplanes are reproduced exactly in the DuckDB oracle
        from crawlspark.datapipe.similarity import lsh_bucket_neighbors

        e = _t(spark, sf, "embeddings").withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        )
        return lsh_bucket_neighbors(e.filter(F.col("vec_id") < 300), n_bits=6, dim=64)

    q["lsh_bucket_similarity"] = lsh_bucket_similarity

    def pq_encode(spark, sf):
        # product-quantization encoding (IVF-PQ storage format): 8 subspace
        # codes per vector by argmin-L2 centroid + reconstruction error;
        # numpy kernel per Arrow batch, broadcast codebook, zero shuffle.
        # round 4: codes emitted as a CSV string (codes_csv) — the driver
        # harness's canonicalizer can't sort/hash array<int> columns
        from crawlspark.datapipe.similarity import pq_encode as pe

        e = _tp(spark, sf, "embeddings", "vec_id").withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        )
        return pe(e, n_centroids=16, n_sub=8).select(
            "vec_id",
            F.array_join(
                F.transform(F.col("codes"), lambda x: x.cast("string")), ","
            ).alias("codes_csv"),
            "recon_err",
        )

    q["pq_encode"] = pq_encode

    def pq_adc_topk(spark, sf):
        # asymmetric-distance top-k over the PQ codes: per-query distance
        # tables (n_sub × K, broadcast) + n_sub lookups per candidate — the
        # compressed query path that never touches raw corpus vectors
        from crawlspark.datapipe.similarity import pq_adc_topk as pat

        e = _tp(spark, sf, "embeddings", "vec_id").withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        )
        return pat(e, e.filter(F.col("vec_id") < 8), k=5, n_centroids=16, n_sub=8)

    q["pq_adc_topk"] = pq_adc_topk

    # ---- crawl engine end-to-end (oracled: DuckDB recursive-CTE twin) ------
    def crawl_bsp_end_to_end(spark, sf):
        # the full BSP wave loop over the deterministic small world; the
        # oracle replays the identical schedule as ONE recursive CTE
        # (crawlspark/bsporacle.py) — selection window, fetch join,
        # anti-joined expansion, virtual-time backoff
        from crawlspark import synth
        from crawlspark.engine import CrawlConfig, CrawlEngine

        world = synth.make_world(n_hosts=4, total_pages=60)
        eng = CrawlEngine(
            spark,
            pages=synth.pages_df(spark, world),
            robots=synth.robots_df(spark, world),
            budgets=synth.politeness_df(spark, world),
            images=None,
            config=CrawlConfig(validate_images=False, wave_budget=30),
        )
        run = eng.run(synth.seeds_df(spark, world))
        return run.order

    q["crawl_bsp_end_to_end"] = crawl_bsp_end_to_end

    def crawl_bsp_mixed(spark, sf):
        # round 4: the BSP loop over a MIXED per-job config world — retry
        # policies RetryJob/DiscardJob/RefreshIP, per-job retry caps, and
        # per-job timeouts that bite against redirect-accumulated latency;
        # the recursive-CTE oracle carries the config through its state rows
        from crawlspark import synth
        from crawlspark.engine import CrawlConfig, CrawlEngine

        world = synth.make_mixed_config_world(n_hosts=5, total_pages=80)
        eng = CrawlEngine(
            spark,
            pages=synth.pages_df(spark, world),
            robots=synth.robots_df(spark, world),
            budgets=synth.politeness_df(spark, world),
            images=None,
            config=CrawlConfig(validate_images=False, wave_budget=25),
        )
        run = eng.run(synth.seeds_df(spark, world))
        return run.order

    q["crawl_bsp_mixed"] = crawl_bsp_mixed

    def image_decode_validate(spark, sf):
        # numpy-codec decode + feature extraction over the payload table;
        # oracled against a VALUES twin decoded driver-side from the same bytes
        from crawlspark import synth
        from crawlspark.datapipe.multimodal import image_features

        world = synth.make_world(n_hosts=4, total_pages=60)
        return image_features(synth.images_df(spark, world)).select(
            "image_id", "w", "h", "fmt", "phash", "decode_ok"
        )

    q["image_decode_validate"] = image_decode_validate

    def phash_near_dup(spark, sf):
        # perceptual-hash hamming pairs via 8×8-bit banding (pigeonhole-exact
        # for max_dist < 8); oracled against a DuckDB VALUES twin whose
        # phashes come from the driver-side decode of the same images
        from crawlspark import synth
        from crawlspark.datapipe.multimodal import image_features, phash_hamming_pairs

        world = synth.make_world(n_hosts=4, total_pages=60)
        feats = image_features(synth.images_df(spark, world))
        return phash_hamming_pairs(feats, max_dist=6)

    q["phash_near_dup"] = phash_near_dup

    def simhash_band_pairs(spark, sf):
        # 48-bit SimHash near-dup pairs via 4×12-bit banded self-join
        # (pigeonhole-exact for hamming < 4); signature built with ONE
        # groupBy carrying 48 conditional-sum aggregates — no bit-row explode
        from crawlspark.datapipe.dedup import simhash_agg
        from crawlspark.datapipe.dedup import simhash_band_pairs as sbp

        sig = simhash_agg(_tp(spark, sf, "documents", "doc_id"), n_bits=48)
        return sbp(sig, n_bits=48, n_bands=4, max_dist=3)

    q["simhash_band_pairs"] = simhash_band_pairs

    def neardup_components(spark, sf):
        # the full dedup-cluster pipeline: MinHash-LSH candidates → iterative
        # min-label connected components → canonical doc per cluster; the
        # DuckDB oracle computes the same fixpoint with a recursive CTE
        from crawlspark.datapipe.dedup import neardup_components as ndc

        return ndc(_tp(spark, sf, "documents", "doc_id"), k=8, bands=4, ngram=3)

    q["neardup_components"] = neardup_components

    def repetition_quality(spark, sf):
        # Gopher-style repetition gates: top-bigram fraction, duplicate-5gram
        # fraction, stopword fraction, composite keep verdict
        from crawlspark.datapipe.text import repetition_features

        return repetition_features(_tp(spark, sf, "documents", "doc_id"))

    q["repetition_quality"] = repetition_quality

    def image_thumbnail_stats(spark, sf):
        # resize stage of the multimodal pipeline: decode → 8×8 block-mean →
        # re-encode PPM → decode thumb → stats; oracled against a VALUES twin
        # computed driver-side from the same bytes with the same numpy ops
        from crawlspark import synth
        from crawlspark.datapipe.multimodal import image_features, image_thumbnails

        world = synth.make_world(n_hosts=4, total_pages=60)
        thumbs = image_thumbnails(synth.images_df(spark, world), size=8)
        feats = image_features(
            thumbs.select(
                "image_id", F.col("thumb").alias("bytes"), F.lit("ppm").alias("fmt")
            )
        )
        return feats.select(
            "image_id",
            F.col("w").alias("tw"),
            F.col("h").alias("th"),
            F.floor(F.col("mean_lum") * 100).cast("long").alias("lum_q"),
            F.col("phash").alias("thumb_phash"),
        )

    q["image_thumbnail_stats"] = image_thumbnail_stats

    def audio_decode_features(spark, sf):
        # REAL WAV/PCM16 decode (RIFF struct walk, no codec lib) + per-clip
        # duration/RMS/ZCR/peak; corrupt clips → decode_ok=False rows; the
        # oracle is a VALUES twin decoded driver-side from the same bytes
        from crawlspark.datapipe.multimodal import audio_features

        clips = spark.createDataFrame(_av_audio_clips(), "clip_id string, bytes binary")
        return audio_features(clips)

    q["audio_decode_features"] = audio_decode_features

    def video_frame_stats(spark, sf):
        # REAL frame-container decode (VPPM, the MJPEG shape with PPM
        # frames): every 3rd frame's dims + quantized luminance + payload md5
        from crawlspark.datapipe.multimodal import video_frame_sample

        clips = spark.createDataFrame(_av_video_clips(), "clip_id string, bytes binary")
        return video_frame_sample(clips, every_n=3)

    q["video_frame_stats"] = video_frame_stats

    def pii_scrub(spark, sf):
        # pre-training PII redaction: deterministic PII-bearing text built
        # from customer columns, then engine-portable regex count + redact
        # (Java regex ∩ RE2 — no lookaround); md5 of the scrubbed text pins
        # the exact replacement spans cross-engine
        from crawlspark.datapipe.text import pii_counts, redact_pii

        c = _tp(spark, sf, "customer", "c_custkey")
        text = F.concat(
            F.col("c_name"), F.lit(" user"), F.col("c_custkey").cast("string"),
            F.lit("@example.com ip 10."),
            (F.col("c_custkey") % 256).cast("string"), F.lit(".0."),
            (F.col("c_nationkey") % 250).cast("string"),
            F.lit(" ph "),
            F.lpad((F.col("c_custkey") % 100).cast("string"), 2, "0"), F.lit("-"),
            F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad(((F.col("c_nationkey") * 7) % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad(((F.col("c_custkey") * 13) % 10000).cast("string"), 4, "0"),
        )
        cnt = pii_counts(text)
        return c.select(
            "c_custkey",
            cnt["email"].cast("int").alias("n_emails"),
            cnt["phone"].cast("int").alias("n_phones"),
            cnt["ipv4"].cast("int").alias("n_ips"),
            F.md5(redact_pii(text)).alias("scrubbed_md5"),
        )

    q["pii_scrub"] = pii_scrub

    def asof_join_events(spark, sf):
        # as-of join: each purchase gains the latest STRICTLY-prior view ts
        # per user — union-trick plan (one shuffle, running last-non-null
        # window), not an inequality join; DuckDB oracles it with native
        # ASOF LEFT JOIN
        from crawlspark.datapipe.relational import asof_join_prior

        ev = _t(spark, sf, "events").select(
            "event_id", "user_id", "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts_us"
        )
        views = ev.filter(F.col("event_type") == "view").select("user_id", "ts_us")
        return asof_join_prior(
            purchases, views, on="user_id", left_ts="ts_us", right_ts="ts_us",
            payload="ts_us", payload_out="prior_view_us",
        )

    q["asof_join_events"] = asof_join_events

    def embedding_quantize(spark, sf):
        # symmetric per-vector int8 quantization + reconstruction error —
        # pure array expressions, zero shuffle; round-half-up pinned to
        # floor(+0.5) in both engines
        from crawlspark.datapipe.similarity import quantize_int8

        return quantize_int8(_tp(spark, sf, "embeddings", "vec_id"))

    q["embedding_quantize"] = embedding_quantize

    def tfidf_top_terms(spark, sf):
        # per-doc top-3 TF-IDF terms (keyword extraction): smoothed
        # sklearn-style idf, broadcast term→df table, per-doc window
        from crawlspark.datapipe.text import tfidf_top_terms as tt

        return tt(_tp(spark, sf, "documents", "doc_id"), k=3)

    q["tfidf_top_terms"] = tfidf_top_terms

    def unigram_surprisal(spark, sf):
        # CCNet-style perplexity-filter stand-in: per-doc mean unigram
        # surprisal under the corpus's own token distribution; total token
        # count folded into the plan (lazy), freq join co-partitioned
        from crawlspark.datapipe.text import unigram_surprisal as us

        return us(_tp(spark, sf, "documents", "doc_id"))

    q["unigram_surprisal"] = unigram_surprisal

    def span_dedup(spark, sf):
        # C4-style cross-document boilerplate removal at span granularity:
        # non-overlapping 3-token chunks occurring in >1 document are
        # stripped; md5 of the reassembled text pins exact removal spans
        from crawlspark.datapipe.text import span_dedup as sd

        return sd(_tp(spark, sf, "documents", "doc_id"), window=3, max_df=1)

    q["span_dedup"] = span_dedup

    def stratified_sample(spark, sf):
        # deterministic hash-based per-stratum sampling — reproducible on
        # any cluster/partitioning (no df.sample seed plumbing); zero shuffle
        from crawlspark.datapipe.sampling import stratified_sample as ss

        return ss(
            _t(spark, sf, "documents").select("doc_id", "source"),
            rates={"src1": 50, "src2": 25},
            default_pct=10,
        ).select("doc_id", "source")

    q["stratified_sample"] = stratified_sample

    def domain_mix_cap(spark, sf):
        # domain-mix rebalancing: at most 15 docs per source, chosen by
        # deterministic hash order (uniform draw, not head-of-file)
        from crawlspark.datapipe.sampling import domain_mix_cap as dmc

        return dmc(
            _t(spark, sf, "documents").select("doc_id", "source"), cap=15
        ).select("doc_id", "source")

    q["domain_mix_cap"] = domain_mix_cap

    def pack_sequences(spark, sf):
        # greedy sequential packing into ~512-token bins via the
        # distributed two-phase cumsum (no global-order window)
        from crawlspark.datapipe.sampling import pack_sequences as ps

        return ps(_tp(spark, sf, "documents", "doc_id"), budget=512)

    q["pack_sequences"] = pack_sequences

    def curation_pipeline(spark, sf):
        # the capstone composition: exact dedup → repetition gate →
        # deterministic 60% sample → 512-token sequence packing, one lazy
        # Catalyst plan end-to-end; oracled as one DuckDB CTE chain
        from crawlspark.datapipe.sampling import curation_pipeline as cp

        return cp(_tp(spark, sf, "documents", "doc_id"), budget=512, sample_pct=60)

    q["curation_pipeline"] = curation_pipeline

    return q


def _world_images():
    """The deterministic image fixtures shared by the image queries and their
    VALUES-based oracles (driver-side decode of the same bytes)."""
    from crawlspark import synth

    return synth.make_world(n_hosts=4, total_pages=60).images


def _thumb_stats_driver():
    """Driver-side twin of the image_thumbnail_stats pipeline: the SAME numpy
    ops (decode → 8×8 block-mean → PPM round-trip → luminance/phash) run on
    the same bytes, so the executor UDF path is pinned value-for-value.
    lum_q quantizes the double to floor(×100) so the comparison is integral —
    identical numpy arithmetic on identical bytes gives identical doubles."""
    import math

    import numpy as np

    from crawlspark import image as IMG

    out = []
    for im in _world_images():
        px = IMG.DECODERS[im["fmt"]](im["bytes"])
        h, w, _ = px.shape
        bh, bw = max(h // 8, 1), max(w // 8, 1)
        small = (
            px[: bh * 8, : bw * 8].reshape(8, bh, 8, bw, 3).mean(axis=(1, 3)).astype(np.uint8)
        )
        thumb = IMG.DECODERS["ppm"](IMG.encode_ppm(small))
        lum = thumb.mean(axis=2)
        out.append(
            (
                im["image_id"],
                8,
                8,
                int(math.floor(float(lum.mean()) * 100)),
                IMG.average_hash(thumb),
            )
        )
    return out


def _av_audio_clips():
    """Deterministic WAV fixtures (crawlspark.av synth — md5-seeded tones,
    mixed sample rates, one stereo, one corrupt) shared by the Spark query
    and its driver-decoded VALUES oracle."""
    import numpy as np

    from crawlspark import av

    clips = []
    for i in range(10):
        cid = f"clip{i:03d}"
        sr = 8000 if i % 2 == 0 else 16000
        x = av.synth_tone(cid, seconds=0.25 + 0.05 * (i % 4), sample_rate=sr)
        if i % 5 == 4:  # stereo flavor: inverted second channel
            x = np.stack([x, -x], axis=1)
        clips.append((cid, av.encode_wav(x, sr)))
    clips.append(("corrupt00", b"definitely not RIFF"))
    return clips


def _av_video_clips():
    """Deterministic VPPM fixtures (drifting-block clips) + one corrupt."""
    from crawlspark import av

    clips = [
        (f"vid{i:03d}", av.synth_video(f"vid{i:03d}", n_frames=8 + i, size=8))
        for i in range(6)
    ]
    clips.append(("vidbad00", b"VPPMgarbage"))
    return clips


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["fifo_within_priority"] = f"""
        SELECT event_id, {_PRIORITY_SQL} AS priority,
               ROW_NUMBER() OVER (PARTITION BY {_PRIORITY_SQL} ORDER BY ts, event_id) AS fifo_rank
        FROM events
    """

    o["priority_dequeue_topk"] = f"""
        SELECT event_id, {_PRIORITY_SQL} AS priority, epoch_us(ts) AS ts_us
        FROM events
        ORDER BY {_PRIORITY_SQL}, ts, event_id
        LIMIT 500
    """

    o["dedup_first_per_key"] = """
        SELECT user_id, props, event_id AS first_event
        FROM (SELECT user_id, props, event_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id, props ORDER BY ts, event_id) AS rn
              FROM events)
        WHERE rn = 1
    """

    o["politeness_topk"] = f"""
        SELECT user_id, event_id, rk FROM (
          SELECT user_id, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY {_PRIORITY_SQL}, ts, event_id) AS rk
          FROM events)
        WHERE rk <= 3
    """

    o["backoff_eligibility"] = """
        WITH w AS (SELECT max(epoch_us(ts)) AS wave_ts FROM events)
        SELECT event_id,
               CAST(event_id % 5 + 1 AS INT) AS retry,
               CAST(least(100000 * power(2, event_id % 5), 2000000) AS BIGINT) AS delay_us,
               (epoch_us(ts) + CAST(least(100000 * power(2, event_id % 5), 2000000) AS BIGINT))
                 <= (SELECT wave_ts - 86400000000 FROM w) AS eligible
        FROM events
    """

    o["retry_cap_clamp"] = """
        SELECT event_id, CAST(event_id % 9 - 1 AS INT) AS max_retries,
               CAST(greatest(0, least(event_id % 9 - 1, 5)) + 1 AS INT) AS attempts
        FROM events
    """

    o["cache_key_md5"] = """
        SELECT doc_id, md5('GET:' || 'http://' || source || '/doc/' || doc_id) AS cache_key
        FROM documents
    """

    o["host_bucket_salted"] = f"""
        SELECT DISTINCT source,
               CAST({_hash60_sql("'42|' || source")} % 64 AS INT) AS bucket
        FROM documents
    """

    o["proxy_round_robin"] = """
        SELECT event_id, CAST(event_id % 7 AS INT) AS proxy_id FROM events
    """

    o["proxy_url_parse"] = """
        WITH raw AS (
          SELECT event_id,
                 CASE event_id % 7
                   WHEN 0 THEN 'socks5://user:pass@' || h
                   WHEN 1 THEN 'http://' || h
                   WHEN 2 THEN 'user:pass@' || h
                   WHEN 3 THEN h
                   WHEN 4 THEN 'socks5://user@' || h
                   WHEN 5 THEN 'SOCKS5://user:@' || h
                   ELSE 'ftp://user:pass@' || h END AS raw
          FROM (SELECT event_id, 'p' || CAST(event_id % 20 AS VARCHAR) || '.example.com:1080' AS h
                FROM events)),
        full_u AS (
          SELECT event_id, raw,
                 CASE WHEN strpos(raw, '://') > 0 THEN raw ELSE 'socks5://' || raw END AS fu
          FROM raw),
        parts AS (
          SELECT event_id, raw,
                 lower(split_part(fu, '://', 1)) AS scheme,
                 split_part(fu, '://', 2) AS rest
          FROM full_u),
        auth AS (
          SELECT event_id, raw, scheme, rest,
                 regexp_replace(rest, '^.*@', '') AS host,
                 CASE WHEN length(rest) > length(regexp_replace(rest, '^.*@', ''))
                      THEN substr(rest, 1, length(rest) - length(regexp_replace(rest, '^.*@', '')) - 1)
                      ELSE '' END AS userinfo
          FROM parts)
        SELECT event_id, raw,
               scheme IN ('socks5','http','https','socks5h') AS valid,
               CASE WHEN scheme IN ('socks5','http','https','socks5h')
                    THEN scheme || '://' || host END AS clean_url,
               CASE WHEN scheme IN ('socks5','http','https','socks5h')
                    THEN split_part(userinfo, ':', 1) END AS username,
               CASE WHEN scheme IN ('socks5','http','https','socks5h')
                    THEN CASE WHEN strpos(userinfo, ':') > 0
                              THEN substr(userinfo, strpos(userinfo, ':') + 1)
                              ELSE '' END END AS password
        FROM auth
    """

    o["result_gate"] = """
        SELECT event_id, (event_id % 5) != 0 AS use_in_results
        FROM events
        WHERE (event_id % 5) != 0 AND NOT ((event_id % 7) = 0)
    """

    o["timeout_outcomes"] = """
        WITH t AS (
          SELECT event_id,
                 (event_id * 7919) % 50000 AS lat,
                 CASE WHEN event_id % 3 = 0 THEN 20000 END AS tmo
          FROM events)
        SELECT event_id,
               CAST(lat AS BIGINT) AS latency_us,
               CAST(tmo AS BIGINT) AS timeout_us,
               CAST(CASE WHEN tmo IS NOT NULL AND lat > tmo THEN 599 ELSE 200 END AS INT) AS status,
               CAST(CASE WHEN tmo IS NOT NULL AND lat > tmo THEN tmo ELSE lat END AS BIGINT) AS elapsed_us
        FROM t
    """

    # keep the regex literally identical to crawlspark.politeness.PRIVATE_HOST_RE
    _PRIV_RE = (
        r"^(localhost$|127\.|0\.0\.0\.0$|10\.|192\.168\.|169\.254\."
        r"|172\.(1[6-9]|2[0-9]|3[01])\.|::1$|\[::1\]$)"
    )
    o["private_net_guard"] = f"""
        WITH h AS (
          SELECT event_id,
                 CASE event_id % 6
                   WHEN 0 THEN '127.0.0.1' WHEN 1 THEN '10.0.0.5'
                   WHEN 2 THEN '192.168.1.9' WHEN 3 THEN '172.20.1.1'
                   WHEN 4 THEN 'example.com' ELSE '172.15.3.3' END AS host
          FROM events)
        SELECT event_id, host, regexp_matches(host, '{_PRIV_RE}') AS blocked FROM h
    """

    o["metrics_rollup"] = f"""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
               max({_PRIORITY_SQL}) AS max_priority
        FROM events GROUP BY ROLLUP (event_type)
    """

    o["sessionize_lag"] = """
        WITH g AS (
          SELECT user_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL THEN 1
                      WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        > 1800000000 THEN 1 ELSE 0 END AS new_s
          FROM events)
        SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
        FROM g GROUP BY user_id
    """

    o["json_props_extract"] = """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
               CAST(json(props) AS VARCHAR) AS props_norm
        FROM events
    """

    o["approx_distinct_users"] = """
        SELECT count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok FROM events
    """

    o["q1_lineitem_agg"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """

    o["broadcast_join_revenue"] = """
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """

    o["topk_suppliers_per_nation"] = """
        SELECT n_name, s_name, round(s_acctbal, 4) AS acctbal, rk FROM (
          SELECT n_name, s_name, s_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey ASC) AS rk
          FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        WHERE rk <= 3
    """

    o["text_features"] = f"""
        WITH b AS (
          SELECT doc_id, lang,
                 length(text) AS n,
                 length(text) - length(regexp_replace(text, '[.,!?;:''"()\\-]', '', 'g')) AS np,
                 len({_TOKENS_SQL}) AS n_tok,
                 list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), t -> t != '') AS pieces,
                 {_stop_hits_sql(STOP_EN)} AS en,
                 {_stop_hits_sql(STOP_DE)} AS de,
                 {_stop_hits_sql(STOP_FR)} AS fr
          FROM documents)
        SELECT doc_id,
               CAST(n_tok AS BIGINT) AS n_tokens,
               CAST(coalesce(list_sum(list_transform(pieces, w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT)
                 AS n_subwords,
               round(CASE WHEN n > 0 THEN CAST(np AS DOUBLE) / n ELSE 0.0 END, 6) AS punct_ratio,
               round(
                 (CASE WHEN n_tok >= 5 THEN 0.4 ELSE 0.0 END)
                 + least(CAST(en AS DOUBLE) / greatest(n_tok, 1) * 4.0, 0.4)
                 + greatest(0.0, 0.2 - (CASE WHEN n > 0 THEN CAST(np AS DOUBLE) / n ELSE 0.0 END)), 6) AS quality,
               lang,
               CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
                    WHEN de >= fr AND de > 0 THEN 'de'
                    WHEN fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred
        FROM b
    """

    _FP_SQL = _hash60_sql("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")

    o["doc_fingerprint"] = f"""
        WITH n AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
          FROM documents)
        SELECT doc_id, {_hash60_sql("norm")} AS fingerprint,
               array_to_string(
                 list_sort(list_distinct(
                   list_transform(range(1, greatest(length(norm) - 7, 0) + 1),
                                  i -> {_hash60_sql("substr(norm, CAST(i AS INT), 8)")})
                 ))[1:8], ',') AS sketch
        FROM n
    """

    o["dedup_exact"] = f"""
        WITH k AS (SELECT doc_id, {_FP_SQL} AS fingerprint FROM documents)
        SELECT doc_id AS keeper, fingerprint, dup_count FROM (
          SELECT doc_id, fingerprint,
                 ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn,
                 count(*) OVER (PARTITION BY fingerprint) AS dup_count
          FROM k)
        WHERE rn = 1
    """

    _SHINGLES_SQL = f"""
        WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS l FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(0, greatest(len(l) - 2, 1)),
                          i -> array_to_string(l[i+1:i+3], ' '))) AS shingle
            FROM toks)
          WHERE length(shingle) > 0)
    """

    o["ngram_jaccard_pairs"] = f"""
        {_SHINGLES_SQL},
        shh AS (SELECT doc_id, {_hash60_sql("shingle")} AS shingle FROM sh),
        rare AS (SELECT shingle FROM shh GROUP BY shingle HAVING count(*) <= 100),
        sh2 AS (SELECT shh.doc_id, shh.shingle FROM shh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
               round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5
    """

    # embedding_neardup (round 4; probes widened round 5): the bucketed twin
    # of the Spark plan — the SAME 6-bit md5-derived sign signatures
    # (projection rounded to 6 dp before the sign test), candidate pairs from
    # home ∪ all ≤2-bit-adjacent probe buckets (probe_bits=2, the recall
    # fix), exact cosine thresholded on its 6-dp-rounded value. Each
    # qualifying pair matches via exactly one probe (probe buckets of one
    # vector are pairwise distinct XOR masks), so no DISTINCT is needed.
    _ND_MASKS = ", ".join(
        str(m)
        for m in [0]
        + [1 << i for i in range(6)]
        + [(1 << i) | (1 << j) for i in range(6) for j in range(i + 1, 6)]
    )
    _HYPER_ND = _hash60_sql("CAST(bit AS VARCHAR) || '|' || CAST(j AS VARCHAR)")
    o["embedding_neardup"] = f"""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                   FROM embeddings WHERE vec_id < 200),
        proj AS (
          SELECT vec_id, bit,
                 list_sum(list_transform(range(0, 64),
                   j -> e[CAST(j AS INT) + 1] *
                        (CASE WHEN {_HYPER_ND} % 2 = 1 THEN 1.0 ELSE -1.0 END))) AS p
          FROM v, (SELECT unnest(range(0, 6)) AS bit)),
        sig AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN round(p, 6) > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY vec_id),
        sv AS (SELECT s.vec_id, s.bucket, v.e FROM sig s JOIN v USING (vec_id)),
        probes AS (
          SELECT vec_id, e, xor(bucket, CAST(pm AS BIGINT)) AS pbucket
          FROM sv, (SELECT unnest([{_ND_MASKS}]) AS pm))
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
        FROM probes a JOIN sv b ON a.pbucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.3
    """

    # sampled-k-means centroid twin (round 4): the EXACT derivation of
    # crawlspark.datapipe.similarity.kmeans_codebook — hash-sampled rows
    # (hash60(md5(id)) % 4 == 0), init = k smallest md5(id) hex, ONE Lloyd
    # step with the squared distance rounded to 9 dp before the argmin
    # (ties -> lowest cidx) and each new centroid coordinate rounded to 6 dp
    # (what lets DuckDB avg() and numpy mean() agree); empty cells keep init
    def _kmeans_cents_sql(k: int, dim: int = 64, sample_mod: int = 4) -> str:
        hkey = _hash60_sql("CAST(vec_id AS VARCHAR)")
        d2 = (
            f"round(list_sum(list_transform(range(1, {dim + 1}), "
            "j -> pow(s.e[CAST(j AS INT)] - i.ce[CAST(j AS INT)], 2))), 9)"
        )
        return f"""
        samp AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE {hkey} % {sample_mod} = 0),
        init AS (
          SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx,
                 e AS ce
          FROM samp ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}),
        kasg AS (
          SELECT vec_id, cidx FROM (
            SELECT s.vec_id, i.cidx,
                   row_number() OVER (PARTITION BY s.vec_id ORDER BY {d2} ASC, i.cidx ASC) AS rn
            FROM samp s, init i) WHERE rn = 1),
        kdim AS (
          SELECT a.cidx, dims.j, round(avg(s.e[CAST(dims.j AS INT)]), 6) AS m
          FROM kasg a JOIN samp s USING (vec_id), (SELECT unnest(range(1, {dim + 1})) AS j) dims
          GROUP BY a.cidx, dims.j),
        knew AS (SELECT cidx, list(m ORDER BY j) AS ce FROM kdim GROUP BY cidx),
        cents AS (
          SELECT i.cidx, coalesce(n.ce, i.ce) AS ce
          FROM init i LEFT JOIN knew n USING (cidx))"""

    _COSC = (
        "round(list_dot_product(v.e, c.cv) / "
        "(sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.cv, c.cv))), 9)"
    )
    o["ivf_topk_probe"] = f"""
        WITH {_kmeans_cents_sql(8).strip()},
        v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                   FROM embeddings),
        cc AS (SELECT cidx AS cent_id, ce AS cv FROM cents),
        assign AS (
          SELECT nbr_id, vv, cell FROM (
            SELECT v.vec_id AS nbr_id, v.e AS vv, c.cent_id AS cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_COSC} DESC, c.cent_id ASC) AS rn
            FROM v, cc c) WHERE rn = 1),
        probes AS (
          SELECT query_id, qv, cell FROM (
            SELECT v.vec_id AS query_id, v.e AS qv, c.cent_id AS cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_COSC} DESC, c.cent_id ASC) AS rn
            FROM v, cc c WHERE v.vec_id < 8) WHERE rn <= 2),
        scored AS (
          SELECT p.query_id, a.nbr_id,
                 list_dot_product(p.qv, a.vv)
                   / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.vv, a.vv))) AS cos
          FROM probes p JOIN assign a USING (cell)
          WHERE p.query_id != a.nbr_id)
        SELECT query_id, nbr_id, round(cos, 6) AS cosine, CAST(rk AS INT) AS rk FROM (
          SELECT query_id, nbr_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rk
          FROM scored)
        WHERE rk <= 5
    """

    # sign-bit LSH: hyperplane component h[i][j] = ±1 from md5("i|j") — the
    # exact expression crawlspark.datapipe.similarity.lsh_signature uses; the
    # projection is rounded to 6 dp on both sides before the sign test
    _HYPER = _hash60_sql("CAST(bit AS VARCHAR) || '|' || CAST(j AS VARCHAR)")
    o["lsh_bucket_similarity"] = f"""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                   FROM embeddings WHERE vec_id < 300),
        proj AS (
          SELECT vec_id, bit,
                 list_sum(list_transform(range(0, 64),
                   j -> e[CAST(j AS INT) + 1] *
                        (CASE WHEN {_HYPER} % 2 = 1 THEN 1.0 ELSE -1.0 END))) AS p
          FROM v, (SELECT unnest(range(0, 6)) AS bit)),
        sig AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN round(p, 6) > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY vec_id),
        sv AS (SELECT s.vec_id, s.bucket, v.e FROM sig s JOIN v USING (vec_id))
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
               round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
        FROM sv a JOIN sv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """

    # PQ: identical sampled-k-means codebook (round 4 — was the 16 lowest-id
    # vectors; subspace m = dims [8m, 8m+8) of the shared full-vector
    # centroids), identical 9-dp rounding of every subspace distance BEFORE
    # argmin/summation so float order can't flip a code or a rank
    _PQ_CENTS = f"""
        {_kmeans_cents_sql(16).strip()},
        v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings),
        subs AS (SELECT unnest(range(0, 8)) AS m),
        subd AS (
          SELECT v.vec_id, c.cidx, subs.m,
                 round(list_sum(list_transform(range(1, 9),
                   j -> pow(e[CAST(subs.m * 8 + j AS INT)] - ce[CAST(subs.m * 8 + j AS INT)], 2))), 9) AS d2
          FROM v, cents c, subs),
        best AS (
          SELECT vec_id, m, cidx, d2,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cidx) AS rn
          FROM subd),
        codes AS (SELECT vec_id, m, cidx FROM best WHERE rn = 1)
    """

    o["pq_encode"] = f"""
        WITH {_PQ_CENTS.strip()},
        codes_arr AS (
          SELECT vec_id, string_agg(CAST(cidx AS VARCHAR), ',' ORDER BY m) AS codes_csv
          FROM codes GROUP BY vec_id),
        se AS (
          SELECT k.vec_id,
                 list_sum(list_transform(range(1, 9),
                   j -> pow(v.e[CAST(k.m * 8 + j AS INT)] - c.ce[CAST(k.m * 8 + j AS INT)], 2))) AS s
          FROM codes k JOIN cents c ON c.cidx = k.cidx JOIN v ON v.vec_id = k.vec_id),
        err AS (SELECT vec_id, round(sqrt(sum(s)), 6) AS recon_err FROM se GROUP BY vec_id)
        SELECT a.vec_id, a.codes_csv, e.recon_err
        FROM codes_arr a JOIN err e USING (vec_id)
    """

    o["pq_adc_topk"] = f"""
        WITH {_PQ_CENTS.strip()},
        qt AS (
          -- distance tables quantized to INTEGER NANOS (the Spark kernel's
          -- convention): float sums of rounded doubles land on 6-dp half-
          -- boundaries where the engines' round() half-rules disagree;
          -- integer sums are order-independent and bit-identical
          SELECT v.vec_id AS query_id, c.cidx, subs.m,
                 CAST(round(list_sum(list_transform(range(1, 9),
                   j -> pow(e[CAST(subs.m * 8 + j AS INT)] - ce[CAST(subs.m * 8 + j AS INT)], 2))) * 1e9) AS BIGINT) AS d2n
          FROM v, cents c, subs WHERE v.vec_id < 8),
        adc AS (
          SELECT t.query_id, k.vec_id AS nbr_id,
                 CAST(sum(t.d2n) AS DOUBLE) / 1e9 AS adc_dist
          FROM codes k JOIN qt t ON t.cidx = k.cidx AND t.m = k.m
          WHERE k.vec_id != t.query_id
          GROUP BY t.query_id, k.vec_id)
        SELECT query_id, nbr_id, adc_dist, CAST(rk AS INT) AS rk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rk
          FROM adc)
        WHERE rk <= 5
    """

    # image queries: VALUES twins built from the driver-side decode of the
    # SAME deterministic fixtures (numpy codecs, crawlspark.image) — pins the
    # executor decode path AND the banded pair join against DuckDB
    imgs = _world_images()
    _FEAT_VALUES = ",".join(
        f"('{im['image_id']}', {im['w']}, {im['h']}, '{im['fmt']}', {int(im['phash'])}, TRUE)"
        for im in imgs
    )
    o["image_decode_validate"] = f"""
        SELECT image_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h, fmt,
               CAST(phash AS BIGINT) AS phash, decode_ok
        FROM (VALUES {_FEAT_VALUES}) AS t(image_id, w, h, fmt, phash, decode_ok)
    """

    _PH_VALUES = ",".join(f"('{im['image_id']}', {int(im['phash'])})" for im in imgs)
    o["phash_near_dup"] = f"""
        WITH feats(image_id, phash) AS (VALUES {_PH_VALUES}),
        bands AS (
          SELECT image_id, phash, band, (phash >> (CAST(band AS INT) * 8)) & 255 AS chunk
          FROM feats, (SELECT unnest(range(0, 8)) AS band)),
        cand AS (
          SELECT DISTINCT a.image_id AS img_a, a.phash AS pa,
                          b.image_id AS img_b, b.phash AS pb
          FROM bands a JOIN bands b ON a.band = b.band AND a.chunk = b.chunk
                                   AND a.image_id < b.image_id)
        SELECT img_a, img_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(pa, pb)) <= 6
    """

    o["minhash_lsh_candidates"] = f"""
        {_SHINGLES_SQL},
        sig AS (
          SELECT doc_id, CAST(perm AS INT) AS perm,
                 min({_hash60_sql("perm || '|' || shingle")}) AS minh
          FROM sh, (SELECT unnest(range(0, 8)) AS perm)
          GROUP BY doc_id, perm),
        bands AS (
          SELECT doc_id, CAST(floor(perm / 2) AS INT) AS band,
                 md5(string_agg(CAST(minh AS VARCHAR), ',' ORDER BY perm)) AS bucket
          FROM sig GROUP BY doc_id, CAST(floor(perm / 2) AS INT)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
          WHERE a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               round(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / 8.0, 6) AS est_jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = doc_a
        JOIN sig sb ON sb.doc_id = doc_b AND sb.perm = sa.perm
        GROUP BY doc_a, doc_b
    """

    o["simhash_band_pairs"] = f"""
        WITH toks AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents),
        h AS (SELECT doc_id, {_hash60_sql("tok")} AS hv FROM toks),
        bits AS (
          SELECT doc_id, bit,
                 sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h, (SELECT unnest(range(0, 48)) AS bit)
          GROUP BY doc_id, bit),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id),
        bands AS (
          SELECT doc_id, simhash, band,
                 (simhash >> (CAST(band AS INT) * 12)) & 4095 AS chunk
          FROM sig, (SELECT unnest(range(0, 4)) AS band)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS ha,
                          b.doc_id AS doc_b, b.simhash AS hb
          FROM bands a JOIN bands b ON a.band = b.band AND a.chunk = b.chunk
                                   AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """

    # connected components over the SAME banded-LSH candidate pairs as
    # minhash_lsh_candidates: the Spark side iterates min-label propagation
    # to a fixpoint; the oracle reaches the same fixpoint with a recursive
    # CTE (min reachable node id per node)
    o["neardup_components"] = f"""
        WITH RECURSIVE {_SHINGLES_SQL.strip().removeprefix("WITH ")},
        sig AS (
          SELECT doc_id, CAST(perm AS INT) AS perm,
                 min({_hash60_sql("perm || '|' || shingle")}) AS minh
          FROM sh, (SELECT unnest(range(0, 8)) AS perm)
          GROUP BY doc_id, perm),
        bands AS (
          SELECT doc_id, CAST(floor(perm / 2) AS INT) AS band,
                 md5(string_agg(CAST(minh AS VARCHAR), ',' ORDER BY perm)) AS bucket
          FROM sig GROUP BY doc_id, CAST(floor(perm / 2) AS INT)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
          WHERE a.doc_id < b.doc_id),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
                  UNION SELECT doc_b, doc_a FROM cand),
        reach(id, comp) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
        SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS component,
               coalesce(l.comp, d.doc_id) = d.doc_id AS is_canonical
        FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
    """

    o["repetition_quality"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS l FROM documents),
        g5 AS (
          SELECT doc_id,
            CASE WHEN len(l) >= 5
              THEN list_transform(range(0, len(l) - 4),
                                  i -> array_to_string(l[i+1:i+5], ' '))
              ELSE [] END AS g
          FROM toks),
        base AS (
          SELECT t.doc_id,
            round(CASE WHEN len(g) > 0
                       THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                       ELSE 0.0 END, 6) AS dup_5gram_frac,
            round(CAST(len(list_filter(l, x -> list_contains(
                    [{",".join(f"'{w}'" for w in STOP_EN)}], x))) AS DOUBLE)
                  / greatest(len(l), 1), 6) AS stopword_frac
          FROM toks t JOIN g5 USING (doc_id)),
        bg AS (
          SELECT doc_id, unnest(CASE WHEN len(l) >= 2
              THEN list_transform(range(0, len(l) - 1),
                                  i -> array_to_string(l[i+1:i+2], ' '))
              ELSE [] END) AS bigram
          FROM toks),
        bgc AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram),
        bga AS (SELECT doc_id, max(cnt) AS mx, sum(cnt) AS tot FROM bgc GROUP BY doc_id)
        SELECT b.doc_id,
               round(coalesce(CAST(mx AS DOUBLE) / tot, 0.0), 6) AS top_bigram_frac,
               dup_5gram_frac, stopword_frac,
               -- the gate compares the ROUNDED fraction, same as the Spark
               -- side (text.py repetition_features) — comparing the raw
               -- ratio here is latent cross-engine drift at the threshold
               (round(coalesce(CAST(mx AS DOUBLE) / tot, 0.0), 6) <= 0.2
                AND dup_5gram_frac <= 0.3
                AND stopword_frac >= 0.02) AS keep
        FROM base b LEFT JOIN bga USING (doc_id)
    """

    _THUMB_VALUES = ",".join(
        f"('{iid}', {tw}, {th}, {lum_q}, {ph})"
        for iid, tw, th, lum_q, ph in _thumb_stats_driver()
    )
    o["image_thumbnail_stats"] = f"""
        SELECT image_id, CAST(tw AS INT) AS tw, CAST(th AS INT) AS th,
               CAST(lum_q AS BIGINT) AS lum_q, CAST(thumb_phash AS BIGINT) AS thumb_phash
        FROM (VALUES {_THUMB_VALUES}) AS t(image_id, tw, th, lum_q, thumb_phash)
    """

    _EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _PHONE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    _IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
    o["pii_scrub"] = f"""
        WITH t AS (
          SELECT c_custkey,
            c_name || ' user' || c_custkey || '@example.com ip 10.' ||
            (c_custkey % 256) || '.0.' || (c_nationkey % 250) ||
            ' ph ' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' ||
            lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
            lpad(CAST((c_nationkey*7) % 1000 AS VARCHAR), 3, '0') || '-' ||
            lpad(CAST((c_custkey*13) % 10000 AS VARCHAR), 4, '0') AS text
          FROM customer)
        SELECT c_custkey,
          CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS INT) AS n_emails,
          CAST(len(regexp_extract_all(text, '{_PHONE}')) AS INT) AS n_phones,
          CAST(len(regexp_extract_all(text, '{_IPV4}')) AS INT) AS n_ips,
          md5(regexp_replace(regexp_replace(regexp_replace(
                text, '{_EMAIL}', '[EMAIL]', 'g'),
                '{_PHONE}', '[PHONE]', 'g'),
                '{_IPV4}', '[IPV4]', 'g')) AS scrubbed_md5
        FROM t
    """

    o["asof_join_events"] = """
        SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
               epoch_us(v.ts) AS prior_view_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id AND v.ts < p.ts
    """

    o["embedding_quantize"] = """
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                   FROM embeddings),
        s AS (SELECT vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
              FROM v),
        q AS (SELECT vec_id, e, scale,
                CASE WHEN scale > 0
                     THEN list_transform(e, x -> CAST(floor(x/scale + 0.5) AS INT))
                     ELSE list_transform(e, x -> 0) END AS qv
              FROM s)
        SELECT vec_id, CAST(list_sum(qv) AS INT) AS sum_q,
               list_max(qv) AS max_q, list_min(qv) AS min_q,
               round(sqrt(list_sum(list_transform(range(1, len(e)+1),
                   i -> pow(e[CAST(i AS INT)] - qv[CAST(i AS INT)]*scale, 2)))), 6) AS recon_err
        FROM q
    """

    o["tfidf_top_terms"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, term, round(tf * (ln((n + 1.0) / (df + 1)) + 1.0), 6) AS tfidf
          FROM tf JOIN dfreq USING (term), n)
        SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
          FROM scored) WHERE rk <= 3
    """

    o["stratified_sample"] = f"""
        SELECT doc_id, source FROM documents
        WHERE {_hash60_sql("'s1|' || CAST(doc_id AS VARCHAR)")} % 100 <
              CASE WHEN source = 'src1' THEN 50 WHEN source = 'src2' THEN 25 ELSE 10 END
    """

    o["domain_mix_cap"] = f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                     ORDER BY {_hash60_sql("'m1|' || CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk
          FROM documents) WHERE rk <= 15
    """

    o["pack_sequences"] = f"""
        WITH sized AS (SELECT doc_id, CAST(len({_TOKENS_SQL}) AS INT) AS n_tokens
                       FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
              FROM sized)
        SELECT doc_id, n_tokens,
               CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin
        FROM c
    """

    _STOPS = ",".join(f"'{w}'" for w in STOP_EN)
    o["curation_pipeline"] = f"""
        WITH k AS (
          SELECT doc_id, text, source FROM (
            SELECT doc_id, text, source,
                   ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM (SELECT doc_id, text, source, {_FP_SQL} AS fp FROM documents))
          WHERE rn = 1),
        toks AS (SELECT doc_id, {_TOKENS_SQL} AS l FROM k),
        g5 AS (
          SELECT doc_id,
            CASE WHEN len(l) >= 5
              THEN list_transform(range(0, len(l) - 4),
                                  i -> array_to_string(l[i+1:i+5], ' '))
              ELSE [] END AS g
          FROM toks),
        base AS (
          SELECT t.doc_id,
            round(CASE WHEN len(g) > 0
                       THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                       ELSE 0.0 END, 6) AS dup5,
            round(CAST(len(list_filter(l, x -> list_contains([{_STOPS}], x))) AS DOUBLE)
                  / greatest(len(l), 1), 6) AS stopf
          FROM toks t JOIN g5 USING (doc_id)),
        bg AS (SELECT doc_id, unnest(CASE WHEN len(l) >= 2
            THEN list_transform(range(0, len(l) - 1),
                                i -> array_to_string(l[i+1:i+2], ' '))
            ELSE [] END) AS bigram FROM toks),
        bgc AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram),
        bga AS (SELECT doc_id, max(cnt) AS mx, sum(cnt) AS tot FROM bgc GROUP BY doc_id),
        rep AS (
          -- ROUNDED gate, matching the Spark side (see repetition_quality)
          SELECT b.doc_id FROM base b LEFT JOIN bga USING (doc_id)
          WHERE round(coalesce(CAST(mx AS DOUBLE)/tot, 0.0), 6) <= 0.2
            AND dup5 <= 0.3 AND stopf >= 0.02),
        samp AS (
          SELECT k.doc_id, k.text FROM k JOIN rep USING (doc_id)
          WHERE {_hash60_sql("'c1|' || CAST(doc_id AS VARCHAR)")} % 100 < 60),
        sized AS (SELECT doc_id, CAST(len({_TOKENS_SQL}) AS INT) AS n_tokens
                  FROM samp),
        c AS (SELECT doc_id, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
              FROM sized)
        SELECT doc_id, n_tokens,
               CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin
        FROM c
    """

    # audio/video: VALUES twins decoded driver-side from the SAME bytes with
    # the SAME numpy math (the image-oracle pattern) — pins the executor
    # decode path value-for-value, including the corrupt-clip handling
    from crawlspark import av as _av

    _audio_rows = []
    for _cid, _data in _av_audio_clips():
        try:
            _f = _av.audio_feature_row(_data)
            _audio_rows.append(
                f"('{_cid}', {_f['sr']}, {_f['n_channels']}, {_f['duration_s']!r}, "
                f"{_f['rms']!r}, {_f['zcr']!r}, {_f['peak']!r}, TRUE)"
            )
        except ValueError:
            _audio_rows.append(f"('{_cid}', NULL, NULL, NULL, NULL, NULL, NULL, FALSE)")
    o["audio_decode_features"] = f"""
        SELECT clip_id, CAST(sr AS INT) AS sr, CAST(n_channels AS INT) AS n_channels,
               CAST(duration_s AS DOUBLE) AS duration_s, CAST(rms AS DOUBLE) AS rms,
               CAST(zcr AS DOUBLE) AS zcr, CAST(peak AS DOUBLE) AS peak, decode_ok
        FROM (VALUES {",".join(_audio_rows)})
          AS t(clip_id, sr, n_channels, duration_s, rms, zcr, peak, decode_ok)
    """

    _video_rows = []
    for _cid, _data in _av_video_clips():
        try:
            for _r in _av.video_frame_rows(_cid, _data, every_n=3):
                _video_rows.append(
                    f"('{_r['clip_id']}', {_r['frame_no']}, {_r['fh']}, {_r['fw']}, "
                    f"{_r['lum_q']}, '{_r['frame_md5']}')"
                )
        except ValueError:
            pass  # undecodable clips are dropped by the operator too
    o["video_frame_stats"] = f"""
        SELECT clip_id, CAST(frame_no AS INT) AS frame_no, CAST(fh AS INT) AS fh,
               CAST(fw AS INT) AS fw, CAST(lum_q AS BIGINT) AS lum_q, frame_md5
        FROM (VALUES {",".join(_video_rows)})
          AS t(clip_id, frame_no, fh, fw, lum_q, frame_md5)
    """

    o["unigram_surprisal"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents),
        freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok)
        SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
               round(avg(-ln(cnt / (SELECT n FROM tot))), 6) AS avg_surprisal
        FROM tok JOIN freq USING (term)
        GROUP BY doc_id
    """

    o["span_dedup"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS l FROM documents),
        ch AS (
          SELECT doc_id, CAST(pos AS INT) AS pos,
                 array_to_string(l[CAST(pos * 3 + 1 AS INT):CAST(pos * 3 + 3 AS INT)], ' ') AS chunk
          FROM (SELECT doc_id, l,
                       unnest(range(0, greatest(CAST(ceil(len(l) / 3.0) AS BIGINT), 1))) AS pos
                FROM toks WHERE len(l) > 0)
          WHERE array_to_string(l[CAST(pos * 3 + 1 AS INT):CAST(pos * 3 + 3 AS INT)], ' ') != ''),
        cdf AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk),
        marked AS (SELECT ch.*, (cdf.df <= 1) AS keep FROM ch JOIN cdf USING (chunk))
        SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
               CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS n_removed,
               md5(coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE keep), '')) AS clean_md5
        FROM marked GROUP BY doc_id
    """

    # the flagship: the BSP crawl loop itself as a DuckDB recursive-CTE twin
    # (selection = window, fetch = join, expansion = anti-joined union; the
    # working table carries pending/seen/control state between iterations) —
    # same fixpoint pattern as neardup_components, generated from the same
    # deterministic world the Spark query crawls (crawlspark/bsporacle.py)
    from crawlspark import synth as _synth
    from crawlspark.bsporacle import bsp_order_oracle_sql

    o["crawl_bsp_end_to_end"] = bsp_order_oracle_sql(
        _synth.make_world(n_hosts=4, total_pages=60), wave_budget=30
    )

    # round 4: the same recursive-CTE twin over a MIXED per-job config world
    # (RetryJob/DiscardJob/RefreshIP policies, per-job retry caps, per-job
    # timeouts vs redirect-accumulated latency) — the state rows carry
    # retry_policy/max_retries/timeout_us through the recursion
    o["crawl_bsp_mixed"] = bsp_order_oracle_sql(
        _synth.make_mixed_config_world(n_hosts=5, total_pages=80), wave_budget=25
    )

    return o
