"""Change-rate-driven recrawl scheduling (Cho & Garcia-Molina).

A frontier at 10^10 URLs cannot re-fetch everything; it has to decide
WHICH seen URLs to spend the politeness budget on.  The classic answer
(Cho & Garcia-Molina, "Estimating Frequency of Change", ACM TOIT 2003)
models each page as a Poisson change process and estimates its rate
from the crawl's own revisit history: with ``n`` visits at interval
``Δ`` days of which ``X`` detected a change, the bias-reduced estimator

    λ̂ = −ln( (n − X + 0.5) / (n + 0.5) ) / Δ          [CGM §4.2]

(the +0.5 continuity correction keeps λ̂ finite when every visit saw a
change).  The probability the page is stale ``age`` days after the last
fetch is then ``p = 1 − exp(−λ̂ · age)``, and the scheduler simply
spends its budget on the highest-p URLs.

Everything here is pure Catalyst column arithmetic over a per-URL
history summary — one narrow row per URL (the fold of the results
table's (url_hash, fetch_ts, content_fp) lineage, itself a
map-combinable aggregate) — so the op is scan-side, shuffle-free, and
composes directly with the engine's scheduler: `recrawl_priority`
emits the same `priority:long` (lower = sooner) that
`operators/politeness.py:schedule_round` already orders rounds by.

The reference engine re-crawls on a fixed wall-clock loop with no
change model (/root/reference/main.py runs each exchange scraper on a
schedule); this is the scale-aware replacement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# p_stale thresholds → the scheduler's priority ladder (lower = sooner).
# Deterministic constants, not tunables-by-RNG (SURVEY §2.10).
HOT_P = 0.8
WARM_P = 0.4


def change_rate(n_visits: Column, n_changed: Column, interval_days: Column) -> Column:
    """λ̂ per day — the CGM bias-reduced MLE; finite for X == n."""
    return -F.log(
        (n_visits - n_changed + F.lit(0.5)) / (n_visits + F.lit(0.5))
    ) / interval_days


def staleness_probability(lambda_hat: Column, age_days: Column) -> Column:
    """P(page changed since last fetch) under the Poisson model."""
    return 1 - F.exp(-lambda_hat * age_days)


def change_rate_priorities(
    history: DataFrame,
    visits_col: str = "n_visits",
    changed_col: str = "n_changed",
    interval_col: str = "interval_days",
    age_col: str = "age_days",
) -> DataFrame:
    """Annotate a per-URL revisit-history summary with ``lambda_hat``,
    ``p_stale`` and a scheduler-ready ``recrawl_priority`` (0 = hot,
    1 = warm, 2 = cold — feeds `schedule_round`'s priority-major order
    unchanged).  Pure projection: no shuffle, no UDF."""
    lam = change_rate(
        F.col(visits_col), F.col(changed_col), F.col(interval_col)
    )
    out = history.withColumn("lambda_hat", lam).withColumn(
        "p_stale", staleness_probability(F.col("lambda_hat"), F.col(age_col))
    )
    return out.withColumn(
        "recrawl_priority",
        F.when(F.col("p_stale") > HOT_P, F.lit(0))
        .when(F.col("p_stale") > WARM_P, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long"),
    )


# ------------------------------------------------------- failure backoff

def backoff_schedule(
    attempts: DataFrame,
    base_delay_s: int = 300,
    max_delay_s: int = 86_400,
    max_failures: int = 8,
    url_col: str = "url_hash",
    ts_col: str = "fetch_ts",
    ok_col: str = "ok",
) -> DataFrame:
    """Exponential-backoff retry schedule from the fetch-attempt log.

    Per URL: consecutive TRAILING failures decide the next attempt —
    ``next_attempt = last_attempt + min(base·2^(k−1), max_delay)`` after
    ``k`` straight failures; a URL whose latest attempt succeeded retries
    immediately on the freshness schedule (delay 0 here, the change-rate
    model above owns it), and one that failed ``max_failures`` straight
    times is marked dead (``give_up = true``, next_attempt NULL) so the
    frontier stops burning politeness budget on it.  Deterministic, no
    RNG jitter — a production crawler adds jitter at enqueue time
    (SURVEY §2.10 keeps the engine reproducible).

    Shape: one map-combinable aggregate per URL.  Counting trailing
    failures needs the max success timestamp and the count/max of
    attempts after it — both expressible as conditional aggregates, so
    there is NO window over the attempt log, just groupBy(url): count of
    failures with ts > max(success ts) (all failures when no success).

    The reference retries inline with time.sleep loops per exchange
    (/root/reference/utils/*.py request wrappers); at frontier scale the
    retry queue IS the frontier, so backoff must be a column, not a loop.
    """
    agg = attempts.groupBy(F.col(url_col).alias("__bk_url")).agg(
        F.max(F.when(F.col(ok_col), F.col(ts_col))).alias("last_ok"),
        F.max(F.col(ts_col)).alias("last_attempt"),
    )
    j = attempts.join(agg, attempts[url_col] == agg["__bk_url"]).groupBy(
        F.col("__bk_url").alias("url_hash"), F.col("last_ok"), F.col("last_attempt")
    ).agg(
        F.sum(
            F.when(
                (~F.col(ok_col))
                & (F.col("last_ok").isNull() | (F.col(ts_col) > F.col("last_ok"))),
                1,
            ).otherwise(0)
        ).alias("consecutive_failures")
    )
    k = F.col("consecutive_failures")
    delay = F.least(
        F.lit(base_delay_s) * F.pow(F.lit(2.0), k - 1),
        F.lit(float(max_delay_s)),
    )
    give_up = k >= max_failures
    return j.select(
        "url_hash",
        k.cast("long").alias("consecutive_failures"),
        give_up.alias("give_up"),
        F.when(give_up, F.lit(None).cast("timestamp"))
        .when(k == 0, F.col("last_attempt"))
        .otherwise(
            F.timestamp_seconds(
                F.unix_timestamp("last_attempt") + delay.cast("long")
            )
        )
        .alias("next_attempt"),
    )


def adaptive_host_delay(
    attempts: DataFrame,
    k: int = 3,
    min_delay_ms: int = 200,
    max_delay_ms: int = 60_000,
    error_threshold: float = 0.3,
    host_col: str = "host",
    latency_col: str = "latency_ms",
    ok_col: str = "ok",
) -> DataFrame:
    """Server-health-adaptive politeness delay per host (the
    Heritrix/crawler-commons ``delay-factor`` policy): the crawl slows
    down on hosts it is hurting instead of hammering them at a fixed
    rate.

    ``delay_ms = clamp(k × p95_latency, min, max) × (2 if error_rate >
    threshold else 1)``, re-clamped at ``max``.  The p95 comes from
    ``percentile_approx`` — a bounded mergeable sketch with map-side
    partials (the same 100 TB-safe form as doc_length_quantiles_approx;
    never a per-host value buffer), returning an ACTUAL observed
    latency (discrete order statistic), which is what makes the oracle
    replay exact below sketch compression.  Error rate and the rest are
    map-combinable aggregates — one narrow shuffle on host, nothing
    else.

    Composes dim-side: a caller folds it into the broadcast host-policy
    dim as ``greatest(policy.min_delay_ms, adaptive.delay_ms)``, which
    can only slow a host down — the scheduler's hot path is untouched.
    The reference sleeps a FIXED random 1-3 s per request regardless of
    server health (/root/reference/exchange/base_scraper.py:160-181);
    deterministic budgets that ADAPT to measured latency are both
    politer and faster.
    """
    agg = attempts.groupBy(F.col(host_col).alias("host")).agg(
        F.percentile_approx(F.col(latency_col), 0.95, 10_000).alias(
            "p95_latency_ms"
        ),
        F.avg((~F.col(ok_col)).cast("double")).alias("error_rate"),
        F.count("*").alias("n_attempts"),
    )
    base = F.least(
        F.lit(max_delay_ms).cast("long"),
        F.greatest(
            F.lit(min_delay_ms).cast("long"),
            (F.lit(k) * F.col("p95_latency_ms")).cast("long"),
        ),
    )
    delay = F.least(
        F.lit(max_delay_ms).cast("long"),
        F.when(F.col("error_rate") > error_threshold, base * 2).otherwise(
            base
        ),
    )
    return agg.select(
        "host",
        F.col("p95_latency_ms").cast("long").alias("p95_latency_ms"),
        F.round("error_rate", 4).alias("error_rate"),
        "n_attempts",
        delay.alias("delay_ms"),
    )


def conditional_fetch_plan(
    candidates: DataFrame,
    prior: DataFrame,
    url_col: str = "url_id",
    header_bytes: int = 300,
    default_bytes: int = 4096,
) -> DataFrame:
    """Expected-bytes plan under HTTP conditional requests — the
    revalidation tier of bandwidth budgeting: a URL whose prior fetch
    carried validators (ETag / Last-Modified) re-fetches with
    If-None-Match / If-Modified-Since and downloads a body ONLY if it
    changed, so its expected cost is ``header + P(changed) × body``
    with P(changed) from the crawl's own revisit history (the CGM
    staleness model, :func:`change_rate_priorities`) — not the full
    body every round.  Feeding these into
    :func:`~cex_crawler_spark.operators.allocation.take_byte_budget`
    is what lets one byte budget cover several× more URLs on a
    validator-friendly corpus.

    ``prior`` rows: (url, has_validators boolean, content_bytes long,
    n_visits, n_changed, interval_days, age_days).  Kinds emitted:
    ``conditional`` (validators present — expected-cost formula),
    ``full_refetch`` (seen, no validators — full body again),
    ``full_unseen`` (no history — ``default_bytes``).

    The float appears ONLY as ``p_permille = round(p_stale·1000)``; the
    byte expectation is then integer arithmetic (``header + permille·
    body div 1000``), so verdicts replay bit-identically given the
    engines agree on p_stale to 1e-3 — the same tolerance class the
    recrawl oracle already proved.  One url-keyed hash join; everything
    else scan-side.
    """
    p = prior.select(
        F.col(url_col).alias("__purl"),
        "has_validators",
        "content_bytes",
        "n_visits",
        "n_changed",
        "interval_days",
        "age_days",
    )
    d = candidates.join(p, candidates[url_col] == F.col("__purl"), "left")
    lam = change_rate(
        F.col("n_visits"), F.col("n_changed"), F.col("interval_days")
    )
    p_stale = staleness_probability(lam, F.col("age_days"))
    permille = F.round(p_stale * 1000).cast("long")
    kind = (
        F.when(F.col("__purl").isNull(), F.lit("full_unseen"))
        .when(F.col("has_validators"), F.lit("conditional"))
        .otherwise(F.lit("full_refetch"))
    )
    est = (
        F.when(F.col("__purl").isNull(), F.lit(default_bytes).cast("long"))
        .when(
            F.col("has_validators"),
            F.lit(header_bytes)
            + F.expr(f"(p_permille * content_bytes) div 1000"),
        )
        .otherwise(F.col("content_bytes"))
    )
    return (
        d.withColumn("p_permille", F.when(F.col("has_validators"), permille))
        .withColumn("kind", kind)
        .withColumn("est_bytes", est)
        .drop(
            "__purl", "has_validators", "content_bytes", "n_visits",
            "n_changed", "interval_days", "age_days",
        )
    )


# ------------------------------------------- graded change magnitude

def content_change_magnitude(
    fetch_log: DataFrame,
    url_col: str = "url",
    round_col: str = "round",
    text_col: str = "text",
) -> DataFrame:
    """(url, round_latest, round_prev, n_latest, n_prev, n_common,
    change_permille, first_seen) — HOW MUCH a page changed between its
    two latest fetches, as 1000·(1 − shingle-Jaccard) on the integer
    grid.

    The change-rate estimator above consumes a binary changed/unchanged
    bit per revisit; a digest flip can't tell a timestamp widget from a
    rewrite, so boilerplate churn poisons λ̂ (Cho & Garcia-Molina's own
    caveat).  This grades the flip: 0 = identical shingle set,
    1000 = fully rewritten; the caller thresholds (e.g. ≥50‰ counts as
    a change) before feeding ``change_rate_priorities``.  URLs with a
    single fetch come back ``first_seen = true`` (prev columns NULL).

    Scale shape: the only window is per-URL over the revisit history
    (bounded by visits/URL — prune the log to the last two rounds
    upstream when it isn't); shingle comparison is an equi-join on
    (url, shingle) between the two versions — never a cross-doc join,
    output rows ≤ shingles of the smaller version.  All counts and the
    permille are integers (bit-identical in any engine).
    """
    from pyspark.sql import Window

    from ..functions.text import word_shingles

    ranked = (
        fetch_log.select(
            F.col(url_col).alias("url"),
            F.col(round_col).alias("rnd"),
            F.col(text_col).alias("text"),
        )
        .withColumn("rk", F.row_number().over(Window.partitionBy("url").orderBy(F.col("rnd").desc())))
        .filter(F.col("rk") <= 2)
        .withColumn("sh", F.array_distinct(word_shingles(F.col("text"))))
        .select("url", "rnd", "rk", "sh", F.size("sh").alias("n_sh"))
        .persist()
    )
    latest = ranked.filter(F.col("rk") == 1).select(
        "url",
        F.col("rnd").alias("round_latest"),
        F.col("sh").alias("sh_l"),
        F.col("n_sh").alias("n_latest"),
    )
    prev = ranked.filter(F.col("rk") == 2).select(
        "url",
        F.col("rnd").alias("round_prev"),
        F.col("sh").alias("sh_p"),
        F.col("n_sh").alias("n_prev"),
    )
    el = latest.select("url", F.explode("sh_l").alias("s"))
    ep = prev.select("url", F.explode("sh_p").alias("s"))
    common = el.join(ep, ["url", "s"]).groupBy("url").agg(
        F.count("*").alias("n_common")
    )
    out = (
        latest.drop("sh_l")
        .join(prev.drop("sh_p"), "url", "left")
        .join(common, "url", "left")
        .select(
            "url",
            "round_latest",
            "round_prev",
            "n_latest",
            "n_prev",
            F.when(F.col("round_prev").isNull(), F.lit(None).cast("long"))
            .otherwise(F.coalesce(F.col("n_common"), F.lit(0)))
            .alias("n_common"),
            F.col("round_prev").isNull().alias("first_seen"),
        )
        .withColumn(
            "change_permille",
            F.when(F.col("first_seen"), F.lit(None).cast("long")).otherwise(
                F.when(
                    F.col("n_latest") + F.col("n_prev") - F.col("n_common") == 0,
                    F.lit(0).cast("long"),
                ).otherwise(
                    F.lit(1000)
                    - F.expr(
                        "(1000 * n_common) div (n_latest + n_prev - n_common)"
                    )
                )
            ),
        )
    )
    return out


# ------------------------------------------------- outlink set delta

def outlink_delta(
    outlinks: DataFrame,
    url_col: str = "url",
    round_col: str = "round",
    target_col: str = "target",
) -> DataFrame:
    """(url, target, change, round_latest, round_prev, first_seen) —
    the outlink-SET diff between a page's two latest fetches: which
    targets a revisited hub ADDED (fresh content to schedule at high
    priority — a news index's new articles surface here rounds before
    any sitemap ping) and which it REMOVED (candidates for recrawl
    demotion; a delisted page loses its inbound).  This is the link-
    structure twin of ``content_change_magnitude``: that grades the
    TEXT delta, this extracts the actionable URLs from the delta.

    First-ever fetches report all targets ``change='added'`` with
    ``first_seen=true`` so the caller can route them through normal
    discovery instead of the hot path.

    Scale shape: one per-url window over DISTINCT fetch rounds
    (bounded by revisit count), then two anti-join-shaped set diffs
    keyed (url, target) — never cross-url.
    """
    from pyspark.sql import Window

    rows = outlinks.select(
        F.col(url_col).alias("url"),
        F.col(round_col).alias("rnd"),
        F.col(target_col).alias("target"),
    ).distinct()
    rounds = (
        rows.select("url", "rnd")
        .distinct()
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("url").orderBy(F.col("rnd").desc())
            ),
        )
        .filter(F.col("rk") <= 2)
        .persist()
    )
    # tagged feeds FOUR consumers (both sides of both set diffs);
    # without a persist Catalyst re-expands the distinct+window subtree
    # per consumer (plan-audited: 4x the shuffles at scale).
    tagged = rows.join(rounds, ["url", "rnd"]).persist()
    latest = tagged.filter(F.col("rk") == 1)
    prev = tagged.filter(F.col("rk") == 2)
    meta = (
        rounds.groupBy("url")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("rnd"))).alias("round_latest"),
            F.max(F.when(F.col("rk") == 2, F.col("rnd"))).alias("round_prev"),
        )
        .withColumn("first_seen", F.col("round_prev").isNull())
    )
    added = latest.join(
        prev.select("url", "target"), ["url", "target"], "left_anti"
    ).select("url", "target", F.lit("added").alias("change"))
    removed = prev.join(
        latest.select("url", "target"), ["url", "target"], "left_anti"
    ).select("url", "target", F.lit("removed").alias("change"))
    return (
        added.unionByName(removed)
        .join(meta, "url")
        .select(
            "url", "target", "change", "round_latest", "round_prev", "first_seen"
        )
    )


# -------------------------------------------- Retry-After backpressure

def retry_after_holds(
    responses: DataFrame,
    host_col: str = "host",
    status_col: str = "status",
    retry_after_col: str = "retry_after",
    fetched_ms_col: str = "fetched_ms",
    default_hold_s: int = 60,
) -> DataFrame:
    """(host, hold_until_ms, n_backpressure) — the server-DIRECTED
    politeness channel: 429/503 responses carry ``Retry-After`` as
    either delta-seconds or an HTTP-date (RFC 9110 §10.2.3), and a
    compliant crawler must not touch the host before the latest such
    hold expires.  This is the third delay tier beside the configured
    floor and the INFERRED adaptive delay above: adaptive reacts to
    symptoms, Retry-After is the server telling us outright.

    Delta form: ``hold = fetched_ms + seconds·1000``.  Date form:
    parsed as an absolute UTC instant (epoch ms).  A 429/503 with a
    missing or unparseable header still holds ``default_hold_s`` —
    backpressure without a usable hint must not become free.  Per
    host the MAX hold wins.  Non-backpressure statuses contribute
    nothing.

    Scale shape: scan-side parse (regexp + try_to_timestamp — no UDF)
    + one map-combinable max/count per host; the result is a dim the
    scheduler folds like the adaptive-delay table.
    """
    ra = F.trim(F.col(retry_after_col))
    is_bp = F.col(status_col).isin(429, 503)
    delta_ms = F.when(
        ra.rlike("^[0-9]+$"), ra.cast("long") * 1000 + F.col(fetched_ms_col)
    )
    # Spark's post-2.x parser rejects the day-of-week field (EEE) with
    # SparkUpgradeException; the name is redundant in an HTTP-date, so
    # strip it and parse the rest.
    date_ms = (
        F.unix_timestamp(
            F.try_to_timestamp(
                F.regexp_replace(ra, "^[A-Za-z]{3}, ", ""),
                F.lit("dd MMM yyyy HH:mm:ss 'GMT'"),
            )
        ).cast("long")
        * 1000
    )
    hold = F.coalesce(
        delta_ms,
        date_ms,
        F.col(fetched_ms_col) + F.lit(int(default_hold_s) * 1000),
    )
    return (
        responses.filter(is_bp)
        .select(
            F.col(host_col).alias("host"),
            hold.cast("long").alias("__hold"),
        )
        .groupBy("host")
        .agg(
            F.max("__hold").alias("hold_until_ms"),
            F.count("*").alias("n_backpressure"),
        )
    )
