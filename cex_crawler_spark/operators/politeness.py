"""Politeness scheduler — the window-ranked token bucket.

Reference semantics being reproduced (SURVEY §2.7): each host crawls its
list strictly sequentially (``for i, announcement in enumerate``,
/root/reference/exchange/binance.py:233), sections concatenated in a
fixed order (listings then delistings, exchange/binance.py:225), with
~1 fetch per 2-5 s per host (exchange/base_scraper.py:160-164) and NO
cross-host ordering (processes run in parallel, main.py:176-186).

Engine mapping: the per-round fetch batch for a host is the top
``budget_per_round`` rows of that host's frontier ordered by
``(priority, section_rank, seq, url_hash)`` — an explicit priority
level (lower = sooner; 0 everywhere reproduces the reference, whose
only priority is section order) ahead of the reference's section/list
order — rank order IS crawl order, so the
per-host sequence is deterministic and matches the reference replay.
Delays become declarative budgets; ``min_delay_ms`` is recorded in
the round's metrics table, never slept.

Skew at scale: one host can hold 50%+ of a 10^10-row frontier, and
``row_number() OVER (PARTITION BY host)`` would funnel it into a single
task.  Ranking instead splits each host's crawl order into contiguous
chunks keyed by the sort columns themselves (``(priority, section_rank,
seq div 8192)``), ranks locally per (host, chunk) in one shuffle,
counts each chunk with a partial aggregate of its own (a shuffle of one
row per task and chunk), and adds broadcast per-chunk offsets — so a
10^10-row host ranks with 10^10/8192 parallel tasks.

Statuses decided here (precedence mirrors the reference loop order —
time filter before existence check, binance.py:240-255):
- ``robots_blocked``: path matches a robots disallow prefix (engine
  addition per the north rule; terminal, never fetched).
- ``stale_placeholder``: release_time older than the watermark AND known
  pre-fetch — written to results without consuming fetch budget
  (binance.py:242-243).  Hosts that only learn release_time after the
  fetch (weex/bitunix/blofin, exchange/weex.py:156-164) are NOT filtered
  here; their stale rows consume budget and are placeholdered post-fetch.
- ``dup_skipped``: same canonical URL appears earlier in this round
  among SCHEDULABLE rows (the reference's second ``os.path.exists``
  hit).  Robots/stale rows never claim first occurrence — a fetchable
  row sharing a stale placeholder's hash is fetched, not dup-skipped,
  exactly as the replayer oracle's sequential pass behaves.  One
  ``row_number`` window partitioned by (url_hash, robots/stale verdict)
  finds them: fetchable rows all carry no verdict, so they share one
  group per hash, across hosts as well.
- ``scheduled``: rank ≤ budget; ``host_seq`` = rank (the crawl order).
- ``deferred``: schedulable but over budget — stays in the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..synth import SECTIONS

STATUS_ROBOTS = "robots_blocked"
STATUS_STALE = "stale_placeholder"
STATUS_DUP = "dup_skipped"
STATUS_SCHEDULED = "scheduled"
STATUS_DEFERRED = "deferred"
STATUS_FETCHED = "fetched"


def section_rank(col=None):
    """Fixed section processing order: spot → futures → delisting."""
    if col is None:
        col = F.col("section")
    m = {s: i for i, s in enumerate(SECTIONS)}
    expr = F.lit(len(m))
    for s, i in m.items():
        expr = F.when(col == s, F.lit(i)).otherwise(expr)
    return expr


# crawl order within a host: explicit priority level first (SURVEY §1.1
# "priority queue"; lower = sooner), then the reference's section order,
# list position, and the url hash as a deterministic tiebreak.  Level 0
# everywhere reproduces the reference exactly (sections ARE its only
# priority).
_ORDER_COLS = ["priority", "section_rank", "seq", "url_hash"]

# the columns every decisions row carries — narrow, but SELF-SUFFICIENT
# for every downstream consumer except the next-round frontier: the
# fetch stage needs (url_hash, image_id) plus the post-fetch freshness
# triple (release_time, time_known_prefetch, canonical_url), so carrying
# them here (~25 B on top of ~100 B/row) means the fetch path never
# joins back to the wide frontier at all.  Only title/url/duplicate_of
# (the wide payload) stay out.
_NARROW_COLS = [
    "seed_id", "url_hash", "canonical_url", "host", "section", "priority",
    "section_rank", "seq", "budget_per_round", "min_delay_ms",
    "image_id", "release_time", "time_known_prefetch",
]


def age_priorities(
    frontier: DataFrame,
    current_round: int,
    age_every: int,
    enqueued_col: str = "enqueued_round",
    floor: int = 0,
) -> DataFrame:
    """Starvation-free effective priority: a waiting URL's priority level
    drops by one (lower = sooner, _ORDER_COLS) for every ``age_every``
    rounds since it was enqueued, clamped at ``floor``.

    Without aging, a steady inflow of priority-0 discoveries can defer a
    priority-2 URL forever — the classic priority-queue starvation the
    reference never faces (its whole frontier is one bounded section
    list, /root/reference/exchange/base_scraper.py) but a 10^10-URL
    frontier with per-host budgets hits immediately.  Aging makes every
    enqueued URL's eventual fetch a certainty: after
    ``(priority - floor) * age_every`` rounds it competes at the top
    level.

    Row-local scan-side arithmetic — zero shuffle, zero joins; the
    scheduler downstream is unchanged (it just reads ``priority``).
    Negative waits (an ``enqueued_round`` ahead of ``current_round`` —
    clock skew between producers) clamp to zero rather than PROMOTING
    the row's level.
    """
    if age_every <= 0:
        raise ValueError(f"age_every must be positive, got {age_every}")
    waited = F.greatest(
        F.lit(0).cast("long"),
        (F.lit(current_round) - F.col(enqueued_col)).cast("long"),
    )
    aged = F.greatest(
        F.lit(floor).cast("long"),
        F.col("priority").cast("long")
        - F.floor(waited / F.lit(age_every)).cast("long"),
    )
    return frontier.withColumn("priority", aged)


_CHUNK_WIDTH = 8192


def _ranked_per_host(df: DataFrame) -> DataFrame:
    """Exact per-host crawl-order rank without a per-host sort bottleneck.

    A plain ``row_number() OVER (PARTITION BY host)`` sorts a 50%-skew
    host in ONE task regardless of cluster size.  Instead the host's
    order is split into contiguous chunks by a key computed from the
    sort columns themselves — ``(priority, section_rank, seq div W)`` is
    order-aligned by construction (no range-sampling pass needed):

    1. row_number within (host, chunk) — parallelism = #chunks — in one
       shuffle of the rows;
    2. the chunk counts come from a partial aggregate over the same
       input rows, not over the ranked ones: its shuffle carries one row
       per (task, chunk), and it does not rerun the rank's shuffle (a
       count over the ranked rows would, since column pruning gives it
       an exchange child of its own that Spark does not reuse);
    3. global rank = local rank + total count of earlier chunks of the
       same host (a window over the tiny counts, then a broadcast
       map-side join).

    EVERY input row comes back with its ``__rank`` — over-budget rows
    are the DEFERRED verdict, so ranking them costs one hash lookup and
    an add per row, where pruning them would need a join to find them
    again.

    Each chunk holds ≤ W rows, so a 10^10-row host ranks with 10^10/W
    parallel tasks.
    """
    chunk = F.struct(
        F.col("priority").alias("p"),
        F.col("section_rank").alias("s"),
        F.floor(F.col("seq") / F.lit(_CHUNK_WIDTH)).alias("c"),
    )
    keyed = df.withColumn("__chunk", chunk)
    local = keyed.withColumn(
        "__lrn",
        F.row_number().over(
            Window.partitionBy("host", "__chunk").orderBy(*_ORDER_COLS)
        ),
    )
    counts = keyed.groupBy("host", "__chunk").agg(F.count("*").alias("__cnt"))
    w_off = (
        Window.partitionBy("host")
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
    ).select("host", "__chunk", "__off")
    return (
        local.join(F.broadcast(offsets), ["host", "__chunk"])
        .withColumn("__rank", (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__chunk", "__lrn", "__off")
    )


def schedule_round(
    candidates: DataFrame,
    host_policy: DataFrame,
    watermark: str,
    caches: list | None = None,
) -> DataFrame:
    """Assign a status (and host_seq for scheduled rows) to every candidate.

    ``candidates``: frontier rows already anti-joined against the seen
    set, carrying canonical_url + url_hash.  ``watermark``: 'YYYY-MM-DD
    HH:MM:SS' UTC cutoff (explicit parameter — never wall-clock).

    ``caches``: optional registry the caller owns.  When given, the
    NARROW projection (~130 B/row — not the wide frontier rows, whose
    cache was measured slower than pruned re-scans in r1) is computed
    once, eagerly, as a local checkpoint and appended to it, together
    with its first-occurrence window: the verdict DAG reads it from two
    union legs and the rank's two inputs, and without it each would
    re-execute the scan→seen-check→policy-join→regex subtree and the
    dup shuffle.  This is the one action ``schedule_round`` runs itself.
    The caller releases the checkpoint after the round's writes
    (plans/round.py) — no session-lifetime leak.

    The scheduler derives ``section_rank`` and ``path`` itself and reads
    every policy column from ``host_policy``: input columns that would
    come out of its joins and projections twice — a ``section_rank`` or
    ``path`` in either input, a policy column in ``candidates`` — are
    dropped first.

    Returns a NARROW decisions frame — ``_NARROW_COLS`` + (status,
    host_seq) — never the wide frontier payload (title/url/
    duplicate_of).  One first-occurrence window over the narrow rows
    marks duplicates; statuses are then a JOIN-FREE 2-leg union over the
    windowed rows: the terminal leg (robots, stale, dup) and the ranked
    leg, where every first-occurrence fetchable row keeps its global
    rank, so scheduled-vs-deferred is a row-local comparison.  The
    narrow frame is self-sufficient for the fetch stage (image_id +
    freshness columns ride along); only the next-round frontier write
    reads the wide frontier rows again (plans/round.py).
    """
    host_policy = host_policy.drop("section_rank", "path")
    candidates = candidates.drop(
        "section_rank", "path", *[c for c in host_policy.columns if c != "host"]
    )
    if "priority" not in candidates.columns:
        # pre-priority frontiers (and fixtures): one level, reference order
        candidates = candidates.withColumn("priority", F.lit(0).cast("long"))
    # one select, not a withColumn chain: every Dataset construction runs
    # a full driver-side analysis of the (growing) plan, and this
    # function is on the per-round hot path — the r5 chain cost ~0.5 s
    # of pure py4j/analysis per round (r6, profiled)
    c = candidates.join(F.broadcast(host_policy), "host", "left").select(
        "*",
        section_rank().alias("section_rank"),
        F.regexp_extract(
            F.col("canonical_url"), r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1
        ).alias("path"),
    )
    robots_hit = F.exists(
        F.col("robots_disallow"), lambda p: F.startswith(F.col("path"), p)
    )
    if "robots_rules" in host_policy.columns:
        # strict-robots tier: hosts whose policy carries parsed RFC 9309
        # rules (functions/robots.select_robots_rules) get the full
        # Allow/Disallow wildcard/anchor evaluation; hosts with NULL
        # rules keep the cheap prefix tier.  Still row-local scan-side
        # work — the per-rule regexp match only runs on rows of hosts
        # that opted in.  When the rules carry a materialized `rex`
        # field (translate_robots_rules — what effective_host_policy
        # emits), the per-row pattern→regex re-derivation is skipped:
        # at 10^10 frontier rows the translation belongs on the host
        # dim, the hot path should only ever MATCH.
        from cex_crawler_spark.functions.robots import robots_allowed

        elem = host_policy.schema["robots_rules"].dataType.elementType
        has_rex = "rex" in [f.name for f in elem.fields]
        robots_hit = F.when(
            F.col("robots_rules").isNotNull(),
            ~robots_allowed(
                F.col("path"),
                F.col("robots_rules"),
                pretranslated=has_rex,
            ),
        ).otherwise(robots_hit)
    stale_prefetch = F.col("time_known_prefetch") & (
        F.col("release_time") < F.to_timestamp(F.lit(watermark))
    )

    # All ranking runs on a NARROW projection — at 10^10 rows the
    # frontier carries urls/titles that would otherwise ride through
    # every window shuffle.  canonical_url + min_delay_ms ride along so
    # downstream results/metrics never need the wide rows.
    #
    # robots/stale disposition first (precedence mirrors the reference
    # loop order); dup detection then runs over the REMAINING
    # (schedulable) rows only — matching the replayer oracle, where a
    # stale placeholder never claims first-occurrence (a non-stale row
    # sharing its hash is fetchable, not dup_skipped;
    # replayer.py:105-123).
    pre_terminal = (
        F.when(F.coalesce(robots_hit, F.lit(False)), STATUS_ROBOTS)
        .when(stale_prefetch, STATUS_STALE)
    )
    narrow = c.select(*_NARROW_COLS, pre_terminal.alias("__pre"))

    # dup detection: one first-occurrence window per (url_hash, __pre).
    # Every fetchable row has a NULL __pre, so all fetchable rows of a
    # hash share one group — across hosts too, as the replayer's global
    # first-occurrence set does — while robots/stale rows sit in groups
    # of their own and never claim first occurrence.
    w_dup = Window.partitionBy("url_hash", "__pre").orderBy(
        "priority", "section_rank", "seq", "seed_id"
    )
    narrow = narrow.select(
        "*",
        (F.col("__pre").isNull() & (F.row_number().over(w_dup) == 1)).alias(
            "__first"
        ),
    )
    if caches is not None:
        # computed here, in one action, before any consumer runs: the
        # dup window's shuffle runs once, inside it.  A persist()
        # instead became one adaptive query stage — one job, each
        # rerunning the seen check's probe — per reference below
        narrow = narrow.localCheckpoint(eager=True)
        caches.append(narrow)

    # exact per-host rank, PARALLEL within a host: one shuffle splits
    # each host's order into contiguous chunks, ranks locally per (host,
    # chunk), then adds per-chunk offsets (a tiny map-side broadcast
    # join).  A plain `row_number() OVER (PARTITION BY host)` would sort
    # a 50%-skew host in one task regardless of cluster size.
    ranked = _ranked_per_host(narrow.filter(F.col("__first")))

    # verdict assembly: a 2-leg UNION over the windowed narrow rows — no
    # joins.  Every schedulable row carries its rank, so
    # scheduled-vs-deferred is a row-local comparison; precedence mirrors
    # the reference loop order (robots → stale → dup → budget).
    no_seq = F.lit(None).cast("long").alias("host_seq")
    return (
        narrow.filter(~F.col("__first"))
        .select(
            *_NARROW_COLS,
            F.coalesce(F.col("__pre"), F.lit(STATUS_DUP)).alias("status"),
            no_seq,
        )
        .unionByName(
            ranked.select(
                *_NARROW_COLS,
                F.when(
                    F.col("__rank") <= F.col("budget_per_round"),
                    STATUS_SCHEDULED,
                ).otherwise(STATUS_DEFERRED).alias("status"),
                F.when(
                    F.col("__rank") <= F.col("budget_per_round"),
                    F.col("__rank"),
                ).alias("host_seq"),
            )
        )
    )


def quality_verdicts(
    docs: DataFrame,
    host_col: str = "host",
    quality_col: str = "quality",
    min_quality: float = 0.5,
    min_docs: int = 5,
    demote_share: float = 0.6,
) -> DataFrame:
    """Content-quality crawl steering: per-host rollup of fetched-doc
    quality → a demotion verdict the scheduler feeds back into
    ``priority`` (via ``traps.demote_trapped`` — same broadcast-map
    shape).  A host whose fetched pages are mostly junk
    (``low_share ≥ demote_share`` over ≥ ``min_docs`` docs — never
    judged on one page) stops consuming politeness budget ahead of
    productive hosts; it sinks, it is never dropped.  This closes the
    content loop beside the STRUCTURAL trap screen (URL templates) and
    the HEALTH loop (adaptive delay): three independent signals, one
    priority column.

    One map-combinable groupBy on host — the verdict dim is hosts-sized.
    Cross-engine exactness: quality rides the 1e-6 grid `quality_score`
    rounds to, so the mean is summed as EXACT integers (micro-quality)
    and divided once — no float-summation order dependence anywhere.
    """
    qi = F.round(F.col(quality_col) * 1_000_000).cast("long")
    low = (F.col(quality_col) < min_quality).cast("long")
    agg = docs.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("n_docs"),
        F.sum(qi).alias("__sum_qi"),
        F.sum(low).alias("__n_low"),
    )
    mean_q = F.col("__sum_qi") / (F.col("n_docs") * 1_000_000.0)
    low_share = F.col("__n_low") / F.col("n_docs")
    return agg.select(
        "host",
        "n_docs",
        F.round(mean_q, 4).alias("mean_quality"),
        F.round(low_share, 4).alias("low_share"),
        (
            (F.col("n_docs") >= min_docs) & (low_share >= demote_share)
        ).alias("demote"),
    )


def ip_queue_policy(
    host_policy: DataFrame,
    host_ip: DataFrame,
    budget_col: str = "budget_per_round",
    delay_col: str = "min_delay_ms",
) -> DataFrame:
    """IP-level politeness queue assignment (Heritrix's
    ``IpAddressSetDecideRule`` / queue-assignment-by-IP): N virtual
    hosts behind one server must share ONE politeness queue — per-host
    budgets multiply against a single box otherwise.  Re-keys the
    policy dim on ``queue_key = coalesce(ip, host)`` (unresolved hosts
    stay singleton queues) and rolls the group policy CONSERVATIVELY:
    the shared budget is the group's MIN member budget, the shared
    delay its MAX — a queue is never more aggressive than its most
    restrictive member.

    Returns one row per host: ``(host, queue_key, n_hosts_on_queue,
    queue_budget_per_round, queue_min_delay_ms)`` plus the host's own
    policy columns.  Dim×dim work (hosts-sized, broadcast class);
    the scheduler consumes it by ranking on ``queue_key`` instead of
    ``host`` — `schedule_round` is key-agnostic, so the swap is a
    column rename at the call site (tested in tests/test_traps.py).
    """
    mapped = host_policy.join(
        F.broadcast(host_ip.select("host", "ip")), "host", "left"
    ).withColumn("queue_key", F.coalesce(F.col("ip"), F.col("host")))
    groups = mapped.groupBy("queue_key").agg(
        F.count("*").alias("n_hosts_on_queue"),
        F.min(budget_col).alias("queue_budget_per_round"),
        F.max(delay_col).alias("queue_min_delay_ms"),
    )
    return mapped.join(groups, "queue_key").drop("ip")


def novelty_yield(
    log: DataFrame,
    host_col: str = "host",
    digest_col: str = "digest",
    round_col: str = "round",
    min_docs: int = 20,
    min_permille: int = 200,
) -> DataFrame:
    """Per-host novelty-yield steering from the multi-round fetch log —
    the third content signal beside quality (quality_verdicts) and
    structure (traps.trap_hosts): a host whose fetches stopped producing
    GLOBALLY new content is burning budget, whether it's a stale site
    re-serving the same pages or a syndicator re-publishing what another
    host already delivered (per-host dedup can't see the latter — the
    digest's first appearance was elsewhere).

    A fetch row is *novel* iff its round equals the digest's global
    first-seen round (cross-host ties in the same round all get credit —
    deterministic, and at worst over-credits one round).  The verdict
    reads each host's LATEST round: ``demote`` when it fetched at least
    ``min_docs`` and its novel share fell below ``min_permille``
    (integer permille — ``1000·novel div fetched`` — so the threshold
    compare is bit-identical across engines).

    Scale shape: digest first-seen is one map-combinable min; attribution
    is a digest-keyed hash join (dedup_exact's shape); both rollups are
    map-combinable on (host, round) / host.  Feed ``demote`` rows to the
    scheduler via the same broadcast join as ``traps.demote_trapped``.
    """
    first = log.groupBy(digest_col).agg(
        F.min(round_col).alias("__first_round")
    )
    attributed = log.join(first, digest_col)
    per_round = attributed.groupBy(host_col, round_col).agg(
        F.count("*").alias("n_fetched"),
        F.sum(
            (F.col(round_col) == F.col("__first_round")).cast("long")
        ).alias("n_novel"),
    )
    # rename the rollup's key: `latest` derives from per_round, and a
    # same-name equi-join on shared lineage trips the ambiguity check
    latest = (
        per_round.groupBy(host_col)
        .agg(F.max(round_col).alias("latest_round"))
        .withColumnRenamed(host_col, "__lhost")
    )
    cur = per_round.join(
        F.broadcast(latest),
        (per_round[host_col] == F.col("__lhost"))
        & (per_round[round_col] == F.col("latest_round")),
    ).select(host_col, "latest_round", "n_fetched", "n_novel")
    return cur.withColumn(
        "novel_permille", F.expr("(1000 * n_novel) div n_fetched")
    ).withColumn(
        "demote",
        (F.col("n_fetched") >= F.lit(min_docs))
        & (F.col("novel_permille") < F.lit(min_permille)),
    )


def dispatch_timeline(
    scheduled: DataFrame,
    policy: DataFrame,
    host_col: str = "host",
    order_col: str = "okey",
    delay_col: str = "min_delay_ms",
) -> DataFrame:
    """Turn a scheduled batch into the executable dispatch plan: each
    URL's earliest-start offset inside the round, ``(rank_in_host − 1) ×
    host_delay`` — politeness as a TIMELINE instead of a bare ordering.
    This is what a fetch executor actually consumes (sort by
    ``dispatch_ms`` and the per-host gaps are exactly the crawl-delay),
    and max(dispatch_ms) per host is the round's makespan estimate —
    the feedback the budget allocator needs to keep rounds wall-clock
    bounded instead of URL-count bounded.

    Scale shape: per-host rank = chunked running sum of ones
    (packing.chunked_running_sum, partitioned by host, chunks keyed by
    the order column itself) — a 50%-skew host ranks in n/W parallel
    tasks, the offsets table stays broadcast-sized; the delay dim rides
    a broadcast map join.  Pure integer arithmetic throughout.
    """
    from cex_crawler_spark.operators.packing import chunked_running_sum

    d = scheduled.join(
        F.broadcast(policy.select(host_col, delay_col)), host_col
    ).withColumn("__one", F.lit(1).cast("long"))
    ranked = chunked_running_sum(
        d, order_col, "__one", partition_by=[host_col], out_col="__rank"
    )
    return (
        ranked.withColumn(
            "dispatch_ms", (F.col("__rank") - 1) * F.col(delay_col)
        )
        .withColumn("host_rank", F.col("__rank"))
        .drop("__one", "__rank")
    )


def domain_queue_policy(
    host_policy: DataFrame,
    max_hosts_per_domain: int = 8,
    budget_col: str = "budget_per_round",
    delay_col: str = "min_delay_ms",
) -> DataFrame:
    """Registrable-domain politeness collapse — the wildcard-subdomain
    guard: a site minting unbounded subdomains (``*.blogspot.com``-style
    wildcard DNS, or an adversarial spam farm) gets a fresh per-host
    budget for every invented hostname, multiplying its share of the
    round without limit.  When a registrable domain (eTLD+1,
    functions/urlnorm.registrable_domain) holds MORE than
    ``max_hosts_per_domain`` hostnames, all of them collapse onto one
    shared queue keyed by the domain; smaller domains keep per-host
    queues (www + apex + cdn is normal, not abuse).

    Group policy rolls conservatively exactly as the IP queues do
    (budget = min member, delay = max member).  Dim×dim broadcast-class
    work; the scheduler consumes ``queue_key`` unchanged.  This is the
    politeness-side twin of the blocklist gate's observation
    (traps.blocklist_screen): subdomain hopping must not evade
    host-keyed controls.
    """
    from cex_crawler_spark.functions.urlnorm import registrable_domain

    d = host_policy.withColumn(
        "__domain", registrable_domain(F.col("host"))
    )
    fanout = d.groupBy("__domain").agg(
        F.count("*").alias("n_hosts_on_domain")
    )
    mapped = d.join(F.broadcast(fanout), "__domain").withColumn(
        "queue_key",
        F.when(
            F.col("n_hosts_on_domain") > F.lit(max_hosts_per_domain),
            F.col("__domain"),
        ).otherwise(F.col("host")),
    )
    groups = mapped.groupBy("queue_key").agg(
        F.count("*").alias("n_hosts_on_queue"),
        F.min(budget_col).alias("queue_budget_per_round"),
        F.max(delay_col).alias("queue_min_delay_ms"),
    )
    return mapped.join(groups, "queue_key").drop("__domain")


def admit_frontier(
    frontier: DataFrame,
    host_cap: int,
    global_cap: int,
    host_col: str = "host",
    order_col: str = "okey",
) -> DataFrame:
    """Admission control for a BOUNDED frontier — the gate that keeps a
    10^10-URL discovery feed from growing the queue without limit: each
    host may hold at most ``host_cap`` queued URLs (one pathological
    host can't own the frontier), and the frontier overall at most
    ``global_cap`` (memory/storage provisioning is a hard number).
    Rejected rows are ANNOTATED, not dropped — (admitted, reject_reason
    ∈ {'host_cap', 'global_cap', NULL}) — so the caller can spill them
    to a cold tier and re-admit later (drop-never-lose, the demotion
    discipline).

    Order matters twice and both ranks are chunked decompositions
    (packing.chunked_running_sum — no global window): the per-host rank
    decides WHICH of a host's URLs make its cap (best priority first,
    via ``order_col``), then the global rank runs over host-cap
    SURVIVORS only, so a capped host's overflow can't push another
    host's URLs past the global cap.
    """
    from cex_crawler_spark.operators.packing import chunked_running_sum

    d = frontier.withColumn("__one", F.lit(1).cast("long"))
    ranked = chunked_running_sum(
        d, order_col, "__one", partition_by=[host_col], out_col="__hrank"
    )
    under_host = ranked.withColumn(
        "__under_host", F.col("__hrank") <= F.lit(host_cap)
    )
    survivors = under_host.withColumn(
        "__gone",
        F.when(F.col("__under_host"), F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    granked = chunked_running_sum(
        survivors, order_col, "__gone", out_col="__grank"
    )
    return (
        granked.withColumn(
            "admitted",
            F.col("__under_host") & (F.col("__grank") <= F.lit(global_cap)),
        )
        .withColumn(
            "reject_reason",
            F.when(~F.col("__under_host"), F.lit("host_cap")).when(
                F.col("__grank") > F.lit(global_cap), F.lit("global_cap")
            ),
        )
        .withColumn("host_rank", F.col("__hrank"))
        .drop("__one", "__hrank", "__under_host", "__gone", "__grank")
    )


def fetcher_assignment(
    queues: DataFrame,
    n_workers: int,
    queue_col: str = "queue_key",
    urls_col: str = "n_urls",
    finish_col: str = "host_finish_ms",
    per_fetch_ms: int = 50,
) -> DataFrame:
    """Deterministic queue→fetcher-worker assignment with per-worker
    load bounds — the executor-fleet view of the dispatch plan: each
    politeness queue is pinned to ONE worker (per-host connection reuse
    and delay bookkeeping need queue affinity — the Heritrix/Nutch
    model), workers are chosen by a hash of the queue key so assignment
    is stateless and reproducible in any engine (md5 16-bit prefix mod
    W, the audit-replayable choice).

    Per worker, two lower bounds on wall-clock: the SERVICE bound
    (``n_urls × per_fetch_ms`` summed — a worker's CPU/network is
    serial) and the POLITENESS bound (max queue finish — delay gaps
    can't compress); ``wall_lower_bound_ms`` is their max.  A skewed
    assignment shows up as bound imbalance — the signal to raise
    ``n_workers`` or split hot queues (salting has no place here:
    affinity is the point).

    Dim-sized scan-side work: one hash per queue + one map-combinable
    worker rollup.
    """
    if n_workers < 1:
        raise ValueError(f"n_workers must be ≥ 1, got {n_workers}")
    worker = (
        F.conv(F.substring(F.md5(F.col(queue_col)), 1, 4), 16, 10).cast(
            "long"
        )
        % F.lit(int(n_workers))
    )
    d = queues.withColumn("worker", worker)
    return (
        d.groupBy("worker")
        .agg(
            F.count("*").alias("n_queues"),
            F.sum(urls_col).alias("n_urls"),
            (F.sum(urls_col) * F.lit(per_fetch_ms)).alias("svc_bound_ms"),
            F.max(finish_col).alias("politeness_bound_ms"),
        )
        .withColumn(
            "wall_lower_bound_ms",
            F.greatest("svc_bound_ms", "politeness_bound_ms"),
        )
    )


# ------------------------------------------ consistent-hash fetch ring

def fetcher_ring_assign(
    queues: DataFrame,
    workers: list[str],
    queue_col: str = "queue_key",
    replicas: int = 64,
) -> DataFrame:
    """(queue_key, worker, ring_point) — queue→worker pinning via
    CONSISTENT HASHING (Karger et al. STOC'97): each worker owns
    ``replicas`` pseudo-random ring points (md5 of "worker:replica",
    32-bit prefix), a queue lands on the clockwise successor of its
    own ring point.  Where ``fetcher_assignment``'s mod-W hash remaps
    ~(W-1)/W of all queues when the fleet resizes — dropping every
    worker's warm connections and politeness bookkeeping at once — the
    ring moves only ~1/(W+1) of queues to the new worker and nothing
    between survivors (asserted by ``fetcher_ring_rebalance``'s
    test).  Replicas smooth ownership variance (~1/√replicas).

    Scale shape: the ring is W·replicas structs — a one-row broadcast
    array literal; successor lookup is a scan-side array filter per
    queue (no join, no shuffle, engine-replayable md5 arithmetic).
    """
    if not workers:
        raise ValueError("workers must be non-empty")
    spark = queues.sparkSession
    wdf = spark.createDataFrame([(w,) for w in workers], ["worker"]).crossJoin(
        spark.range(replicas).select(F.col("id").alias("r"))
    )
    ring = wdf.select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("worker"), F.lit(":"), F.col("r").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long").alias("point"),
        "worker",
    )
    ring_row = ring.agg(
        F.sort_array(F.collect_list(F.struct("point", "worker"))).alias("__ring")
    )
    kp = F.conv(F.substring(F.md5(F.col(queue_col)), 1, 8), 16, 10).cast("long")
    succ = F.coalesce(
        F.try_element_at(
            F.filter(F.col("__ring"), lambda s: s["point"] >= F.col("ring_point")),
            F.lit(1),
        ),
        F.element_at(F.col("__ring"), 1),
    )
    return (
        queues.select(F.col(queue_col).alias("queue_key"))
        .withColumn("ring_point", kp)
        .crossJoin(F.broadcast(ring_row))
        .select("queue_key", succ["worker"].alias("worker"), "ring_point")
    )


def fetcher_ring_rebalance(
    queues: DataFrame,
    workers_before: list[str],
    workers_after: list[str],
    queue_col: str = "queue_key",
    replicas: int = 64,
) -> DataFrame:
    """(queue_key, worker_before, worker_after, moved) — the fleet-
    resize audit: which queues change hands when the worker set goes
    from ``workers_before`` to ``workers_after``.  Under consistent
    hashing only queues whose ring successor changed move — resizing
    W→W+1 strands ~1/(W+1) of queues, every other queue keeps its warm
    worker."""
    a = fetcher_ring_assign(queues, workers_before, queue_col, replicas).select(
        "queue_key", F.col("worker").alias("worker_before")
    )
    b = fetcher_ring_assign(queues, workers_after, queue_col, replicas).select(
        "queue_key", F.col("worker").alias("worker_after")
    )
    return a.join(b, "queue_key").select(
        "queue_key",
        "worker_before",
        "worker_after",
        (F.col("worker_before") != F.col("worker_after")).alias("moved"),
    )


# -------------------------------------------- discovery saturation

def discovery_saturation(
    outlinks: DataFrame,
    host_col: str = "host",
    round_col: str = "round",
    target_col: str = "target",
    max_new_permille: int = 300,
    min_links: int = 20,
) -> DataFrame:
    """(host, round, n_links, n_new, new_permille, is_latest,
    saturated) — per fetching host and crawl round: how many of the
    host's distinct discovered outlink targets were FIRST seen by the
    whole crawl that round.  Link spaces obey Heaps-style saturation —
    when a host's pages stop yielding never-seen URLs its link
    neighbourhood is exhausted and further fetch budget is better
    spent elsewhere.  This is the FRONTIER-side stop signal beside the
    two content-side ones: ``novelty_yield`` needs the fetched bytes
    (digests) and ``quality_verdicts`` needs scored text; saturation
    reads the outlink log alone, BEFORE any further spend.

    ``saturated`` fires on a host's LATEST round only, when
    ``new_permille < max_new_permille`` with ``n_links ≥ min_links``
    (small samples stay unjudged).  Two hosts first-discovering one
    target in the same round both count it new — deterministic, no
    tie-break channel.  All-integer permille.

    Scale shape: one distinct on (host, round, target), one
    map-combinable min-aggregate per target (a popular target is ONE
    agg key), one hash join back, per-host rollups — no window over
    data, no pair join.
    """
    links = outlinks.select(
        F.col(host_col).alias("host"),
        F.col(round_col).alias("rnd"),
        F.col(target_col).alias("target"),
    ).distinct()
    firsts = links.groupBy("target").agg(F.min("rnd").alias("first_rnd"))
    per = (
        links.join(firsts, "target")
        .groupBy("host", "rnd")
        .agg(
            F.count("*").alias("n_links"),
            F.sum((F.col("rnd") == F.col("first_rnd")).cast("long")).alias("n_new"),
        )
        .withColumn(
            "new_permille", F.expr("(1000 * n_new) div n_links")
        )
    )
    latest = per.groupBy("host").agg(F.max("rnd").alias("latest_rnd"))
    return (
        per.join(latest, "host")
        .select(
            "host",
            F.col("rnd").alias("round"),
            "n_links",
            "n_new",
            "new_permille",
            (F.col("rnd") == F.col("latest_rnd")).alias("is_latest"),
            (
                (F.col("rnd") == F.col("latest_rnd"))
                & (F.col("new_permille") < max_new_permille)
                & (F.col("n_links") >= min_links)
            ).alias("saturated"),
        )
    )


# ----------------------------------------------- frontier hot/cold split

def frontier_eviction_plan(
    frontier: DataFrame,
    current_round: int,
    min_age: int = 5,
    evict_priority_floor: int = 2,
    keep_per_host: int = 100,
    host_col: str = "host",
    order_col: str = "okey",
    added_col: str = "added_round",
    priority_col: str = "priority",
) -> DataFrame:
    """frontier + (age, protected, evict, reason) — the hot/cold split
    a 10^10-URL frontier needs: entries that sat ``min_age`` rounds
    without being scheduled AND carry a priority at or past
    ``evict_priority_floor`` move to the cold store (a parquet tier
    the scheduler never scans), EXCEPT each host's ``keep_per_host``
    best entries, which stay hot regardless — eviction must never
    starve a host out of the crawl entirely (the demote-never-drop
    discipline; cold rows re-admit through ``admit_frontier`` later).

    Annotates, never drops: ``evict`` + ``reason`` columns, the
    committing split is the caller's one filter each way.

    Scale shape: one chunked per-host rank (``packing.
    chunked_running_sum`` over the caller's unique numeric ``order_
    col`` — no global window) + row-local age arithmetic.  Negative
    ages (producer clock skew) clamp to 0, same rule as priority
    aging.
    """
    from .packing import chunked_running_sum

    d = frontier.withColumn(
        "age",
        F.greatest(
            F.lit(int(current_round)) - F.col(added_col), F.lit(0)
        ).cast("long"),
    ).withColumn("__one", F.lit(1).cast("long"))
    ranked = chunked_running_sum(
        d, order_col, "__one", partition_by=[host_col], out_col="__hrank"
    )
    candidate = (F.col("age") >= min_age) & (
        F.col(priority_col) >= evict_priority_floor
    )
    return (
        ranked.withColumn("protected", F.col("__hrank") <= F.lit(keep_per_host))
        .withColumn("evict", candidate & ~F.col("protected"))
        .withColumn(
            "reason", F.when(candidate & ~F.col("protected"), F.lit("aged_low_priority"))
        )
        .drop("__one", "__hrank")
    )
