"""Link-graph operators — anchor extraction and PageRank frontier priority.

The reference crawls a fixed hand-picked URL list per exchange
(/root/reference/exchange/*.py) and never needs to rank discovered
URLs; an open-web frontier at the north rule's 10^10-URL scale does.
The classic priority signal is link analysis (Page et al. 1998; Cho,
Garcia-Molina & Page, WWW'98 showed PageRank-ordered crawling finds
important pages first).  Mapping ranks onto the scheduler's
``priority`` column (operators/politeness.py, lower = sooner) is not
built.

Scale notes (100 TB / 10^10 edges):
- ``extract_links`` is scan-side codegen (regexp over the fetched
  payload) — no shuffle at all; it runs fused with the fetch stage.
- ``pagerank`` shuffles once per iteration on ``dst`` (the contribution
  aggregate is map-side combinable) plus one broadcast-sized scalar for
  the dangling mass.  Iterations localCheckpoint so lineage stays O(1)
  (same discipline as operators/dedup.connected_components).  Edges are
  persisted once and re-read per iteration; on a real cluster they'd be
  bucketed by ``src`` so the rank join never re-shuffles the big side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# href + anchor text of plain <a> tags; attribute order beyond href and
# nested markup inside the anchor are out of scope for the screen (a
# production extractor swaps in an HTML parser behind the same schema).
_A_TAG = r'<a\s+href="([^"]+)"[^>]*>([^<]*)</a>'


def extract_links(html: Column) -> Column:
    """array<struct<href,anchor>> of every ``<a href>`` in ``html``.

    Pure codegen: two regexp_extract_all passes (group 1 = href,
    group 2 = anchor text) zipped positionally — no UDF, no shuffle.
    """
    hrefs = F.regexp_extract_all(html, F.lit(_A_TAG), 1)
    anchors = F.regexp_extract_all(html, F.lit(_A_TAG), 2)
    return F.arrays_zip(hrefs.alias("href"), anchors.alias("anchor"))


# <meta name="robots" content="..."> — both attribute orders as explicit
# alternatives (RE2 has no lookahead; same discipline as canonical_hints).
_META_ROBOTS_NC = r'(?i)<meta\s+name="robots"\s+content="([^"]*)"'
_META_ROBOTS_CN = r'(?i)<meta\s+content="([^"]*)"\s+name="robots"'
# a link already matched by _A_TAG whose tag also carries rel=…nofollow…
_A_NOFOLLOW = r'(?i)<a\s+href="([^"]+)"[^>]*\srel="[^"]*nofollow[^"]*"'
_A_HREF = r'<a\s+href="([^"]+)"'


def _meta_directives(html: Column) -> Column:
    """array<string> of trimmed lowercase robots-meta tokens."""
    raw = F.concat_ws(
        ",",
        F.concat_ws(",", F.regexp_extract_all(html, F.lit(_META_ROBOTS_NC), 1)),
        F.concat_ws(",", F.regexp_extract_all(html, F.lit(_META_ROBOTS_CN), 1)),
    )
    return F.transform(F.split(raw, ","), lambda x: F.trim(F.lower(x)))


def robots_meta_screen(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, noindex, nofollow, n_links, n_follow_links) — the in-page
    half of the Robots Exclusion Protocol: ``<meta name="robots">``
    directives (noindex / nofollow / none == both, either attribute
    order, directives from multiple tags union) plus per-link
    ``rel="nofollow"`` (microformats spec; rel after href, matching the
    ``_A_TAG`` first-attribute convention — a production extractor
    swaps in an HTML parser behind the same schema).

    noindex gates the CORPUS SINK (fetch for links, never index);
    nofollow zeroes the page's contribution to frontier expansion;
    n_follow_links is the count expansion may actually enqueue.  Pure
    scan-side codegen — three regexp passes, no shuffle, runs fused
    with the fetch stage like extract_links.
    """
    h = F.col(html_col)
    d = _meta_directives(h)
    noindex = F.array_contains(d, "noindex") | F.array_contains(d, "none")
    nofollow = F.array_contains(d, "nofollow") | F.array_contains(d, "none")
    n_links = F.size(F.regexp_extract_all(h, F.lit(_A_HREF), 1))
    n_nf = F.size(F.regexp_extract_all(h, F.lit(_A_NOFOLLOW), 1))
    return pages.select(
        F.col(url_col).alias("url"),
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        n_links.alias("n_links"),
        F.when(nofollow, F.lit(0))
        .otherwise(n_links - n_nf)
        .cast("int")
        .alias("n_follow_links"),
    )


def page_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Explode ``pages`` into (src_url, href, anchor) link rows."""
    return pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(extract_links(F.col(html_col))).alias("l"),
    ).select("src_url", F.col("l.href").alias("href"), F.col("l.anchor").alias("anchor"))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """(id, rank) after ``n_iter`` fixed power iterations.

    Semantics (the standard random-surfer model, dangling mass
    redistributed uniformly so that sum(rank) == 1 every iteration):

        rank'(v) = (1-d)/N + d * ( sum_{u->v} rank(u)/out(u) + m/N )

    where m = total rank parked on dangling nodes (out-degree 0).
    Fixed iteration count, no RNG, no convergence threshold — the
    result is deterministic (SURVEY §2.10) and SQL-mirrorable by
    unrolling the same recurrence, which is how the DuckDB oracle
    checks it value-for-value (round 6).

    Per iteration: one shuffle (contribution groupBy on dst), one
    scalar action for the dangling mass (a single double crossing the
    driver — the same shape GraphX's PageRank uses), one
    localCheckpoint.  Self-loops count as ordinary edges; duplicate
    edges are collapsed first (a page linking twice still casts one
    vote, matching the Brin-Page formulation).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("src").agg(F.count("*").alias("outd"))
    # fold out-degree onto the edge list once so the per-iteration join
    # is edges ⋈ ranks only (one narrow probe side).  Persist it ALREADY
    # hash-partitioned on the join key: InMemoryRelation preserves
    # outputPartitioning, so every iteration's src-join re-shuffles only
    # the node-sized rank table, never the edge list — at web scale
    # E ≫ V and the repeated edge shuffle would dominate the loop.
    ew = (
        e.join(deg, "src")
        .select("src", "dst", "outd")
        .repartition("src")
        .persist()
    )
    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank")).localCheckpoint(
        eager=True
    )
    for _ in range(n_iter):
        dangling = (
            ranks.join(deg, ranks["id"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
            .collect()[0]["m"]
        )
        contrib = (
            ew.join(ranks, ew["src"] == ranks["id"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outd")).alias("c"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .select(
                "id",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    ew.unpersist()
    nodes.unpersist()
    return ranks


def opic(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_rounds: int = 8,
    init_cash: int = 1_000_000,
    with_pool: bool = False,
    init_state: DataFrame | None = None,
    init_pool: int = 0,
) -> DataFrame:
    """(id, cash, history) after ``n_rounds`` of synchronous On-line
    Page Importance Computation (Abiteboul, Preda & Cobéna, WWW'03).

    OPIC is the crawl-native importance signal: every page holds
    *cash*; distributing a page's cash equally to its outlinks and
    accruing what it held into its *history* estimates PageRank-like
    importance WHILE the crawl runs — no full-graph restart when new
    pages appear, which is why frontier schedulers (and the original
    Xyleme crawler) used it over batch PageRank.  This is the
    synchronous batch variant: every round, all pages distribute at
    once.

    Integer micro-cash semantics (what makes the op engine-replayable
    bit-for-bit, unlike float PageRank's carefully-mirrored doubles):
    each out-neighbour receives ``cash div out``; the division residue
    ``cash mod out`` and the whole cash of dangling pages go to a
    uniform pool (the paper's virtual page), which grants
    ``pool div N`` back to every page and carries ``pool mod N`` to
    the next round.  Total cash + pool is conserved EXACTLY at every
    round (``with_pool=True`` returns ``(df, pool)`` so callers can
    assert the invariant).

    ON-LINE extension — the property batch PageRank lacks: pass a
    previous run's ``(state, pool)`` back in as ``init_state`` /
    ``init_pool`` together with a GROWN edge set, and accumulation
    simply continues — known nodes keep their cash and history, newly
    appeared nodes enter with fresh ``init_cash``, the pool carry is
    preserved, and conservation now holds at N′·init_cash +
    carried-over totals.  No restart, no re-normalization — exactly
    why the Xyleme crawler ranked with OPIC while the frontier kept
    growing.

    Scale shape: identical to ``pagerank`` — one map-combinable
    dst-keyed shuffle per round over the src-partitioned persisted
    edge list, one scalar (the residue sum) crossing the driver, state
    localCheckpointed so lineage stays O(1).  All arithmetic is 64-bit
    integer: the oracle unrolls the same recurrence in SQL with zero
    tolerance.

    r6: ONE action per round instead of two — the state carries its
    (static) out-degree and each round's residue sum rides the state
    checkpoint as an ``observe()`` metric, so the separate
    join-state-to-deg residue job is gone (driver-synchronized barriers
    are the whole latency of an iterative op; VERDICT r5 item 3).
    Values are bit-identical: the residue is the same sum over the same
    state, just collected from the materialization that builds it.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = e.select(F.col("src").alias("id")).unionByName(
        e.select(F.col("dst").alias("id"))
    )
    if init_state is not None:
        nodes = nodes.unionByName(init_state.select("id"))
    nodes = nodes.distinct().persist()
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        empty = nodes.select(
            "id", F.lit(0).alias("cash"), F.lit(0).alias("history")
        )
        return (empty, int(init_pool)) if with_pool else empty
    deg = e.groupBy("src").agg(F.count("*").alias("outd"))
    ew = (
        e.join(deg, "src")
        .select("src", "dst", "outd")
        .repartition("src")
        .persist()
    )
    from pyspark.sql import Observation

    # the residue of a state is a pure row-local sum over (cash, outd) —
    # observed during the checkpoint that materializes the state, so no
    # separate residue job runs per round
    residue_metric = F.coalesce(
        F.sum(
            F.when(F.col("outd").isNull(), F.col("cash")).otherwise(
                F.expr("cash % outd")
            )
        ),
        F.lit(0),
    ).alias("r")
    nodes_outd = nodes.join(deg, nodes["id"] == deg["src"], "left").select(
        "id", "outd"
    )
    obs = Observation()
    if init_state is None:
        state = (
            nodes_outd.select(
                "id",
                "outd",
                F.lit(int(init_cash)).cast("long").alias("cash"),
                F.lit(0).cast("long").alias("history"),
            )
            .observe(obs, residue_metric)
            .localCheckpoint(eager=True)
        )
    else:
        prev = init_state.select(
            "id",
            F.col("cash").cast("long").alias("__pc"),
            F.col("history").cast("long").alias("__ph"),
        )
        state = (
            nodes_outd.join(prev, "id", "left")
            .select(
                "id",
                "outd",
                F.coalesce(F.col("__pc"), F.lit(int(init_cash)).cast("long")).alias("cash"),
                F.coalesce(F.col("__ph"), F.lit(0).cast("long")).alias("history"),
            )
            .observe(obs, residue_metric)
            .localCheckpoint(eager=True)
        )
    pool = int(init_pool)
    for _ in range(n_rounds):
        residue = obs.get["r"]
        pool_in = pool + int(residue)
        grant, pool = divmod(pool_in, n)
        contrib = (
            ew.join(state.select(F.col("id"), F.col("cash")), ew["src"] == F.col("id"))
            .groupBy("dst")
            .agg(F.sum(F.expr("cash div outd")).alias("c"))
        )
        obs = Observation()
        state = (
            state.join(contrib, state["id"] == contrib["dst"], "left")
            .select(
                state["id"],
                state["outd"],
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(grant)).cast("long").alias("cash"),
                (F.col("history") + F.col("cash")).cast("long").alias("history"),
            )
            .observe(obs, residue_metric)
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    ew.unpersist()
    nodes.unpersist()
    out = state.select("id", "cash", "history")
    return (out, pool) if with_pool else out


def anchor_text_profile(
    links: DataFrame,
    href_col: str = "href",
    anchor_col: str = "anchor",
    src_col: str = "src_url",
) -> DataFrame:
    """Per-target anchor-text consensus — what the web CALLS a page
    (Brin & Page 1998 §2.2: anchor text describes the target better
    than the target describes itself; it's both a ranking signal and
    the only text for not-yet-fetched frontier URLs).

    Returns (href, n_links, n_srcs, top_anchor, top_n, top_share):
    total in-links, distinct linking pages, the modal anchor string
    (ties → lexicographically smallest, via min over (−count, anchor)
    structs — deterministic), and the modal share.

    Scale shape: two-level aggregate (href, anchor) → href, so a hot
    target's million identical "click here" rows collapse map-side
    before any shuffle; the mode is carried as ONE struct per group,
    never a collected list.  ``n_srcs`` is an exact count-distinct —
    for ultra-hot hrefs swap in operators/skew.salted_distinct_count
    or the HLL sketch, same join shape.
    """
    c = links.groupBy(href_col, anchor_col).agg(F.count("*").alias("c"))
    top = (
        c.groupBy(href_col)
        .agg(
            F.sum("c").alias("n_links"),
            F.min(
                F.struct(
                    (-F.col("c")).alias("nc"),
                    F.col(anchor_col).alias("a"),
                )
            ).alias("t"),
        )
        .select(
            href_col,
            "n_links",
            F.col("t.a").alias("top_anchor"),
            (-F.col("t.nc")).alias("top_n"),
        )
    )
    srcs = links.groupBy(href_col).agg(
        F.countDistinct(src_col).alias("n_srcs")
    )
    return top.join(srcs, href_col).select(
        href_col,
        "n_links",
        "n_srcs",
        "top_anchor",
        "top_n",
        F.round(F.col("top_n") / F.col("n_links"), 6).alias("top_share"),
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """(id, hub, auth) after ``n_iter`` HITS iterations (Kleinberg,
    JACM'99) — the second classic link signal: a high-HUB page is a
    directory worth crawling for its outlinks even when its own
    authority is low, exactly the pages a frontier wants EARLY.

    Standard mutual recursion, L2-normalized each half-step, duplicate
    edges collapsed to one endorsement:

        auth'(v) = Σ_{u→v} hub(u)   then  auth ← auth/‖auth‖₂
        hub'(u)  = Σ_{u→v} auth'(v) then  hub  ← hub/‖hub‖₂

    Fixed iteration count, no RNG — deterministic and SQL-mirrorable by
    unrolling (the DuckDB oracle replays the same recurrence).  Per
    iteration: two key-partitioned map-combinable aggregates over the
    persisted src-partitioned edge list (only the node-sized score
    table shuffles) and two scalar norms (one double each across the
    driver, same shape as pagerank's dangling mass); localCheckpoint
    keeps lineage O(1).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .repartition("src")
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    if nodes.limit(1).count() == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.withColumn("hub", F.lit(0.0)).withColumn("auth", F.lit(0.0))
    scores = nodes.select(
        "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
    ).localCheckpoint(eager=True)

    def _normed(agg: DataFrame, col: str) -> DataFrame:
        norm = agg.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("n")).collect()[0]["n"]
        return agg.select("id", (F.col(col) / F.lit(float(norm or 1.0))).alias(col))

    for _ in range(n_iter):
        auth = _normed(
            nodes.join(
                e.join(scores, e["src"] == scores["id"])
                .groupBy("dst")
                .agg(F.sum("hub").alias("auth")),
                nodes["id"] == F.col("dst"),
                "left",
            ).select("id", F.coalesce("auth", F.lit(0.0)).alias("auth")),
            "auth",
        )
        hub = _normed(
            nodes.join(
                e.join(auth, e["dst"] == auth["id"])
                .groupBy("src")
                .agg(F.sum("auth").alias("hub")),
                nodes["id"] == F.col("src"),
                "left",
            ).select("id", F.coalesce("hub", F.lit(0.0)).alias("hub")),
            "hub",
        )
        scores = (
            hub.join(auth.withColumnRenamed("id", "__aid"), hub["id"] == F.col("__aid"))
            .select("id", "hub", "auth")
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    nodes.unpersist()
    return scores


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "id",
    n_iter: int = 4,
    damping: float = 0.85,
) -> DataFrame:
    """(id, trust) after ``n_iter`` seed-biased power iterations
    (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04).

    PageRank with the uniform teleport replaced by a trust vector
    d(v) = 1/|S| on the hand-vetted seed set, 0 elsewhere — trust
    flows OUT of known-good pages and attenuates per hop, so a spam
    farm that inflates its PageRank by internal linking accumulates
    almost none of it.  Dangling mass teleports back to the seeds
    (the personalized-vector convention), keeping sum(trust) == 1:

        trust'(v) = (1-d)·s(v) + d·( sum_{u->v} trust(u)/out(u) + m·s(v) )

    Same per-iteration shape as ``pagerank`` (one map-combinable
    dst-keyed shuffle, one scalar dangling action, localCheckpointed
    lineage, edge list persisted pre-partitioned on src); seeds join
    in once as a node-sized dim.  Deterministic — the DuckDB oracle
    unrolls the identical recurrence (``_trustrank_cte_chain``).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    s = seeds.select(F.col(seed_col).alias("id")).distinct()
    n_seeds = s.join(nodes, "id", "left_semi").count()
    if n_seeds == 0:
        e.unpersist()
        nodes.unpersist()
        raise ValueError("trustrank: no seed appears in the edge set")
    deg = e.groupBy("src").agg(F.count("*").alias("outd"))
    ew = (
        e.join(deg, "src")
        .select("src", "dst", "outd")
        .repartition("src")
        .persist()
    )
    # trust vector rides the node table as a column so every iteration's
    # base term is scan-side — no per-iteration seed join.
    nd = nodes.join(
        s.withColumn("sv", F.lit(1.0 / n_seeds)), "id", "left"
    ).select("id", F.coalesce(F.col("sv"), F.lit(0.0)).alias("sv")).persist()
    trust = nd.select("id", "sv", F.col("sv").alias("trust")).localCheckpoint(
        eager=True
    )
    for _ in range(n_iter):
        m = (
            trust.join(deg, trust["id"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("trust"), F.lit(0.0)).alias("m"))
            .collect()[0]["m"]
        )
        contrib = (
            ew.join(trust, ew["src"] == trust["id"])
            .groupBy("dst")
            .agg(F.sum(F.col("trust") / F.col("outd")).alias("c"))
        )
        trust = (
            nd.join(contrib, nd["id"] == contrib["dst"], "left")
            .select(
                "id",
                "sv",
                (
                    F.lit(1.0 - damping) * F.col("sv")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.lit(m) * F.col("sv")
                    )
                ).alias("trust"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    ew.unpersist()
    nodes.unpersist()
    nd.unpersist()
    return trust.select("id", "trust")


def degree_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(side, degree, n_nodes) — in/out degree histograms over the
    link graph, degree 0 included (out-degree-0 rows ARE the dangling
    census pagerank's redistribution depends on; in-degree-0 rows are
    the pages only sitemaps/seeds can reach).

    The monitoring readout a frontier needs each round: a fattening
    out-degree tail means link farms / nav explosions feeding the
    expansion stage; in-degree mass collapsing to few nodes means the
    crawl is orbiting hubs.  Two map-combinable aggregates over the
    deduped edge list + one node-sized left join each — no window, no
    explode; the histogram re-aggregation is at most |distinct degree|
    groups.
    """
    # no persist: the result is lazy, and AQE reuses the distinct's
    # exchange across the four consumers (ReusedExchange in the plan)
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    out = []
    for side, key in (("out", "src"), ("in", "dst")):
        deg = e.groupBy(F.col(key).alias("id")).agg(F.count("*").alias("d"))
        per_node = nodes.join(deg, "id", "left").select(
            F.coalesce(F.col("d"), F.lit(0)).alias("degree")
        )
        out.append(
            per_node.groupBy("degree")
            .agg(F.count("*").alias("n_nodes"))
            .select(F.lit(side).alias("side"), "degree", "n_nodes")
        )
    res = out[0].unionByName(out[1])
    return res


def relative_spam_mass(
    ranks: DataFrame, trust: DataFrame, suspect_threshold: float = 0.95
) -> DataFrame:
    """(id, rank, trust, rel_mass, spam_suspect) — link-spam detection
    by mass estimation (Gyöngyi et al., "Link Spam Detection Based on
    Mass Estimation", VLDB'06).

    Both inputs sum to 1 (pagerank's uniform teleport, trustrank's
    seed teleport), so rel_mass = (rank − trust)/rank is the fraction
    of a page's PageRank NOT accounted for by trusted sources — ≈1
    for a spam farm reachable from the good core by a single hijacked
    link, ≈0 (or negative) near the seeds.  One node-sized hash join,
    scan-side arithmetic; thresholding is a verdict column, never a
    drop (the demote-not-drop discipline of operators/traps.py).
    """
    return (
        ranks.join(trust, "id")
        .select(
            "id",
            "rank",
            "trust",
            ((F.col("rank") - F.col("trust")) / F.col("rank")).alias("rel_mass"),
            (
                (F.col("rank") - F.col("trust")) / F.col("rank")
                >= F.lit(suspect_threshold)
            ).alias("spam_suspect"),
        )
    )


def crawl_depth(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "url",
    max_depth: int = 8,
) -> DataFrame:
    """(url, depth) — minimum link-hops from the seed set, BFS layers.

    The frontier policy a focused crawl runs: pages beyond ``max_depth``
    clicks from the seeds are simply never labeled (and so never
    scheduled) — depth-bounded crawling is how a 10^10-URL frontier
    stays finite (Cho & Garcia-Molina's crawl ordering work measures
    quality as a function of depth).

    Algorithm: level-synchronous BFS.  ``frontier`` holds exactly the
    nodes first reached at depth d; one hash join against the (persisted,
    src-partitioned) edge list + one anti-join against the visited set
    per level — the join is on the SAME key every level, so with the
    edge table pre-partitioned on src (as ``pagerank`` does) only the
    node-sized frontier shuffles.  Visited accumulates via unionByName
    + localCheckpoint (lineage stays O(1), not O(depth)).  Early-exits
    when a layer comes back empty, so the loop runs min(max_depth,
    graph eccentricity) times.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .repartition("src")
        .persist()
    )
    visited = (
        seeds.select(F.col(seed_col).alias("url"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["url"] == e["src"])
            .select(F.col("dst").alias("url"))
            .distinct()
            .join(visited.select("url"), "url", "left_anti")
            .withColumn("depth", F.lit(d).cast("long"))
            # layer size rides the checkpoint (r6: one action per BFS
            # layer instead of checkpoint + limit(1).count())
            .observe(obs := Observation(), F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if int(obs.get["n"]) == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    e.unpersist()
    return visited


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """Resolve every redirecting URL to its final target.

    ``edges`` is the functional redirect graph (one outgoing 3xx edge
    per src; callers enforce uniqueness upstream, e.g. last-crawled
    wins).  Returns (url, final_url, resolved) for every src: the first
    transitively-reached node with NO outgoing edge, or ``resolved =
    false`` / NULL when the chain enters a redirect CYCLE (a real crawl
    pathology — cycles must be detected, not followed forever).

    The seen-set and frontier dedup on ``final_url``: ten mirrors
    301-ing to one canonical page are one page.

    Algorithm: pointer jumping — label(u) ← label(label(u)) while the
    label still has an outgoing edge, so chain depth halves per
    iteration: O(log max_chain) self-joins of the node-sized label
    table, each localCheckpointed (same lineage discipline as
    dedup.connected_components).  Cycle members either reach a
    power-of-two fixpoint (label ∈ srcs) or burn ``max_iters``; both
    end as resolved = false without raising — unlike CC's
    non-convergence, a cycle is DATA, not an algorithmic failure.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    labels = e.select(
        F.col("src").alias("url"), F.col("dst").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        # label(u) ← label(label(u)): joining the label table with
        # ITSELF doubles the hop distance every iteration; a label
        # without its own row is already terminal and stays put.
        parent = labels.select(
            F.col("url").alias("__purl"), F.col("label").alias("__plabel")
        )
        obs = Observation()
        hopped = (
            labels.join(parent, labels["label"] == parent["__purl"], "left")
            .select(
                "url",
                F.coalesce(F.col("__plabel"), F.col("label")).alias("label"),
                (F.col("__plabel") != F.col("label")).alias("__changed"),
            )
            # changed-row probe rides the checkpoint as an observe()
            # metric — one action per pointer-jump round (r6; was a
            # second limit(1).count() job)
            .observe(obs, F.count_if(F.col("__changed")).alias("changed"))
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["changed"])
        labels = hopped.select("url", "label")
        if changed == 0:
            break
    srcs = e.select(F.col("src").alias("__src")).distinct()
    out = labels.join(srcs, labels["label"] == srcs["__src"], "left").select(
        "url",
        F.when(F.col("__src").isNull(), F.col("label")).alias("final_url"),
        F.col("__src").isNull().alias("resolved"),
    )
    e.unpersist()
    return out


def bowtie_regions(
    edges: DataFrame,
    pivot,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 30,
) -> DataFrame:
    """(id, region, fwd_depth, bwd_depth) — the Broder bow-tie map
    (Broder et al. WWW'00) relative to ``pivot``'s strongly-connected
    component: ``core`` = forward- AND backward-reachable (the SCC the
    pivot sits in), ``in`` = reaches the core but isn't reached
    (freshly-discovered upstream pages — seed candidates), ``out`` =
    reached but can't get back (sinks, often content leaves),
    ``disconnected`` = neither (tendrils/tubes/islands from the
    pivot's viewpoint).  The bow-tie shares steer crawl policy: a
    frontier drowning in OUT is harvesting leaves; a fat IN means the
    seed set entered the web's periphery.

    Two level-synchronous BFS sweeps (``crawl_depth`` — the same
    persisted src-partitioned edge join, once on the graph and once
    transposed), one full-outer label join.  Depths are exact BFS
    layers ≤ ``max_depth``; pick the pivot inside the component of
    interest (min-id page of the giant component in practice).
    """
    spark = edges.sparkSession
    seed = spark.createDataFrame([(pivot,)], "url " + (
        "string" if isinstance(pivot, str) else "long"
    ))
    fwd = crawl_depth(
        edges, seed, src_col=src_col, dst_col=dst_col, max_depth=max_depth
    ).select(F.col("url").alias("id"), F.col("depth").alias("fwd_depth"))
    bwd = crawl_depth(
        edges, seed, src_col=dst_col, dst_col=src_col, max_depth=max_depth
    ).select(F.col("url").alias("id"), F.col("depth").alias("bwd_depth"))
    nodes = (
        edges.select(F.col(src_col).alias("id"))
        .unionByName(edges.select(F.col(dst_col).alias("id")))
        .distinct()
    )
    return (
        nodes.join(fwd, "id", "left")
        .join(bwd, "id", "left")
        .select(
            "id",
            F.when(
                F.col("fwd_depth").isNotNull() & F.col("bwd_depth").isNotNull(),
                F.lit("core"),
            )
            .when(F.col("bwd_depth").isNotNull(), F.lit("in"))
            .when(F.col("fwd_depth").isNotNull(), F.lit("out"))
            .otherwise(F.lit("disconnected"))
            .alias("region"),
            "fwd_depth",
            "bwd_depth",
        )
    )


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(id, degree, triangles, clustering_permille) — exact triangle
    count and local clustering coefficient per node over the
    UNDIRECTED link graph.  Dense mutually-linked neighbourhoods are
    the classic link-farm signature (far denser than organic web
    neighbourhoods — the TrustRank/spam-mass tier's structural
    cousin), and the clustering coefficient is the per-node dial:
    1000 = my neighbours form a clique, 0 = a pure hub.

    Algorithm (the standard ordered-wedge join): orient every
    undirected edge low→high, join wedges (a<b)×(b<c), close them
    against the edge set — each triangle materializes exactly once as
    a<b<c, then credits all three corners.  Two hash-join shuffles on
    node keys; at web scale the join is run highest-degree-last
    (orient by degree, not id) to bound wedge fan-out — id order here
    keeps the oracle trivial and is the same join shape.
    ``clustering_permille = 2·t·1000 div (d·(d−1))`` — all integer;
    NULL below degree 2.
    """
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .persist()
    )
    wedges = und.alias("e1").join(
        und.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c")
    )
    tris = wedges.join(
        und.select(F.col("a").alias("ta"), F.col("b").alias("tc")),
        (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
    ).select("a", "b", "c")
    credits = (
        tris.select(F.col("a").alias("id"))
        .unionByName(tris.select(F.col("b").alias("id")))
        .unionByName(tris.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    out = deg.join(credits, "id", "left").select(
        "id",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                "(2 * coalesce(triangles, 0) * 1000) div (degree * (degree - 1))"
            ),
        ).alias("clustering_permille"),
    )
    und.unpersist()
    return out


def kcore_membership(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """(id, degree_in_core) — the k-CORE of the undirected link graph:
    the maximal subgraph where every member keeps ≥ k neighbours
    *inside the subgraph*.  Plain degree thresholds keep hangers-on
    (a node with k links to nodes that themselves get peeled); the
    core is what survives ITERATED peeling, which is why it's the
    robust dense-region extractor (spam cores, scale-free nuclei)
    next to triangles (local) and TrustRank (seeded).

    Algorithm: level-synchronous peeling — drop all nodes with
    current degree < k, recompute degrees over surviving edges,
    repeat to fixpoint (≤ ``max_iters`` sequential rounds, each one
    map-combinable degree aggregate + one semi-join; alive-set
    localCheckpointed).  Raises on non-convergence like
    ``connected_components`` — unlike a redirect cycle, failure to
    reach a fixpoint here is an algorithmic bug, never data.
    """
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .persist()
    )
    from pyspark.sql import Observation

    cur = und.localCheckpoint(eager=True)
    # surviving-edge count rides each checkpoint as an observe() metric:
    # ONE action per peel round (the r5 shape ran nxt.count() AND
    # cur.count() after every checkpoint — VERDICT r5 item 7)
    n_cur = cur.count()
    for _ in range(max_iters):
        deg = (
            cur.select(F.col("a").alias("id"))
            .unionByName(cur.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("d"))
        )
        alive = deg.filter(F.col("d") >= k).select("id").persist()
        obs = Observation()
        nxt = (
            cur.join(alive, cur["a"] == alive["id"], "left_semi")
            .join(alive, F.col("b") == alive["id"], "left_semi")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_nxt = int(obs.get["n"])
        done = n_nxt == n_cur
        cur, n_cur = nxt, n_nxt
        alive.unpersist()
        if done:
            break
    else:
        raise RuntimeError(f"k-core peeling did not converge in {max_iters} rounds")
    und.unpersist()
    return (
        cur.select(F.col("a").alias("id"))
        .unionByName(cur.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree_in_core"))
    )


def compress_adjacency(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(src, n_out, first_dst, gaps, gap_bits, raw_bits) — delta-gap
    adjacency encoding of the link graph (the core idea of the
    WebGraph framework, Boldi & Vigna WWW'04): per source, sorted
    distinct integer targets stored as first id + successive gaps.
    Web adjacency is locality-heavy (most links stay near the source
    in URL-sorted id space), so gaps are small and a varint/γ-code
    spends ~log₂(gap) bits where the raw list spends 64 — at 10¹⁰
    edges this is the difference between the graph fitting on the
    cluster or not.  ``gap_bits`` = Σ bit-lengths (the γ-code mantissa
    cost, an exact integer audit of the locality win vs ``raw_bits`` =
    64·n_out); the physical varint write is the parquet encoder's job.

    Scale shape: ONE groupBy(src) with a bounded collect_list (rows =
    out-degree, page-bounded — cap upstream for synthetic mega-hubs);
    gap math is scan-side array lambdas, no second shuffle.  Bit
    lengths via ``length(bin(x))`` — integer-exact in any engine, no
    transcendental log.
    """
    dsts = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("ds"))
    )
    gaps = F.transform(
        F.slice(F.col("ds"), 2, F.greatest(F.size("ds") - 1, F.lit(0))),
        lambda d, i: d - F.element_at(F.col("ds"), i + 1),
    )
    return dsts.select(
        "src",
        F.size("ds").alias("n_out"),
        F.element_at("ds", 1).alias("first_dst"),
        gaps.alias("gaps"),
        (
            F.length(F.bin(F.element_at("ds", 1)))
            + F.coalesce(
                F.aggregate(
                    gaps,
                    F.lit(0),
                    lambda acc, g: acc + F.length(F.bin(g)),
                ),
                F.lit(0),
            )
        ).cast("long").alias("gap_bits"),
        (F.size("ds") * 64).cast("long").alias("raw_bits"),
    )


def decompress_adjacency(adj: DataFrame) -> DataFrame:
    """(src, dst) — exact inverse of ``compress_adjacency``: rebuild
    each sorted target list by a scan-side prefix-sum fold over the
    gap array (no shuffle, no window) and explode."""
    rebuilt = F.aggregate(
        F.col("gaps"),
        F.array(F.col("first_dst")),
        lambda acc, g: F.array_append(acc, F.element_at(acc, -1) + g),
    )
    return adj.select("src", F.explode(rebuilt).alias("dst"))


# rel=next extraction: same RE2 discipline as rel=canonical below (no
# lookahead — both attribute orders are explicit alternations).
_NEXT_REL_HREF = (
    r"""(?is)<link[^>]*rel\s*=\s*["']next["'][^>]*"""
    r"""href\s*=\s*["']([^"']+)["']"""
)
_NEXT_HREF_REL = (
    r"""(?is)<link[^>]*href\s*=\s*["']([^"']+)["'][^>]*"""
    r"""rel\s*=\s*["']next["']"""
)


def pagination_hints(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Annotate pages with their declared ``<link rel="next">`` target
    (the HTML pagination protocol): ``next_hint`` raw href or NULL,
    ``next_target`` resolved (root-relative against the page's
    scheme+host, absolute pass through, NULL when absent).  Pure
    scan-side regexps — runs fused with the fetch stage."""
    html, url = F.col(html_col), F.col(url_col)
    hint = F.coalesce(
        F.nullif(F.regexp_extract(html, _NEXT_REL_HREF, 1), F.lit("")),
        F.nullif(F.regexp_extract(html, _NEXT_HREF_REL, 1), F.lit("")),
    )
    origin = F.regexp_extract(url, r"^([a-z][a-z0-9+.-]*://[^/?#]*)", 1)
    resolved = F.when(hint.isNull(), F.lit(None).cast("string")).when(
        F.startswith(hint, F.lit("/")), F.concat(origin, hint)
    ).otherwise(hint)
    return pages.withColumn("next_hint", hint).withColumn(
        "next_target", resolved
    )


def paginate_series(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """(url, series_id, position, series_len, in_cycle) — reconstruct
    paginated SERIES from the functional rel=next graph, so the
    frontier can treat /article?page=1..17 as ONE logical document
    (dedup counts the series once, recrawl re-fetches page 1 and lets
    lastmod decide the tail, export concatenates in position order).

    Same pointer-jumping skeleton as ``resolve_redirects`` (the 3xx
    location graph and the rel=next graph are both functional — one
    resolver, two protocols) but each hop also ACCUMULATES distance:
    d(u) ← d(u) + d(label(u)) keeps the invariant d = hops from u to
    its current label, so chain positions come out of the same O(log
    chain) loop instead of a second walk.  ``series_id`` is the
    series' LAST page (the unique member with no next), ``position``
    is 1-based from the first page, ``series_len`` = longest head
    distance + 1 (mis-tagged multi-head chains report the longest
    head's length).  Pages in a rel=next CYCLE come back ``in_cycle``
    with NULL series columns — cycles are data, not failure.

    Scale shape: O(log max_series_len) self-joins of the node-sized
    label table (localCheckpointed lineage), one max-aggregate per
    series, one hash join back.  No step touches page bytes.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    labels = e.select(
        F.col("src").alias("url"),
        F.col("dst").alias("label"),
        F.lit(1).cast("long").alias("d"),
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        parent = labels.select(
            F.col("url").alias("__purl"),
            F.col("label").alias("__plabel"),
            F.col("d").alias("__pd"),
        )
        hopped = (
            labels.join(parent, labels["label"] == parent["__purl"], "left")
            .select(
                "url",
                F.coalesce(F.col("__plabel"), F.col("label")).alias("label"),
                F.when(
                    F.col("__plabel").isNotNull(), F.col("d") + F.col("__pd")
                ).otherwise(F.col("d")).alias("d"),
                (F.col("__plabel") != F.col("label")).alias("__changed"),
            )
            .observe(obs := Observation(),
                     F.count_if(F.col("__changed")).alias("changed"))
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["changed"])
        labels = hopped.select("url", "label", "d")
        if changed == 0:
            break
    srcs = e.select(F.col("src").alias("__src")).distinct()
    chain = labels.join(srcs, labels["label"] == srcs["__src"], "left").select(
        "url",
        F.when(F.col("__src").isNull(), F.col("label")).alias("sid"),
        F.when(F.col("__src").isNull(), F.col("d")).alias("d"),
        F.col("__src").isNotNull().alias("in_cycle"),
    )
    terminals = (
        e.select(F.col("dst").alias("url"))
        .distinct()
        .join(srcs, F.col("url") == F.col("__src"), "left_anti")
        .select(
            "url",
            F.col("url").alias("sid"),
            F.lit(0).cast("long").alias("d"),
            F.lit(False).alias("in_cycle"),
        )
    )
    members = chain.unionByName(terminals)
    lens = members.filter(~F.col("in_cycle")).groupBy("sid").agg(
        (F.max("d") + 1).alias("series_len")
    )
    out = members.join(lens, "sid", "left").select(
        "url",
        F.when(~F.col("in_cycle"), F.col("sid")).alias("series_id"),
        F.when(~F.col("in_cycle"), F.col("series_len") - F.col("d")).alias(
            "position"
        ),
        F.when(~F.col("in_cycle"), F.col("series_len")).alias("series_len"),
        "in_cycle",
    )
    e.unpersist()
    return out


# rel=alternate hreflang: the tag carries THREE attributes in any
# order, so instead of enumerating six alternations the screen matches
# whole rel=alternate <link> tags and pulls hreflang/href out of each
# tag independently — order-free, still RE2-safe.
_ALT_LINK_TAG = r"""(?is)<link[^>]*rel\s*=\s*["']alternate["'][^>]*>"""
_HREFLANG_ATTR = r"""(?is)hreflang\s*=\s*["']([^"']+)["']"""
_HREF_ATTR = r"""(?is)href\s*=\s*["']([^"']+)["']"""


def hreflang_alternates(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, lang, href) — one row per declared language alternate
    (``<link rel="alternate" hreflang=..>``, the internationalization
    protocol search engines and crawlers consume).  ``lang`` is
    lowercased (hreflang values are case-insensitive); tags missing
    either attribute drop.  Pure scan-side regexps."""
    rows = pages.select(
        F.col(url_col).alias("url"),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(_ALT_LINK_TAG), F.lit(0))
        ).alias("tag"),
    ).select(
        "url",
        F.lower(F.regexp_extract(F.col("tag"), _HREFLANG_ATTR, 1)).alias("lang"),
        F.regexp_extract(F.col("tag"), _HREF_ATTR, 1).alias("href"),
    )
    return rows.filter((F.col("lang") != "") & (F.col("href") != ""))


def hreflang_clusters(alts: DataFrame) -> DataFrame:
    """(url, lang, cluster_id, cluster_size, default_url) — group
    language alternates into TRANSLATION CLUSTERS via connected
    components over the declaration graph (declarations in the wild
    are partial and asymmetric — a member that declares nothing still
    joins through pages that list it).

    Why the frontier cares: alternates are the same logical content in
    different languages — near-dup text dedup can't see that (the
    texts differ), yet a language-balanced corpus wants ONE member per
    language and the mix weighted per cluster, and link aggregation
    should credit the ``x-default`` member.  ``lang`` per member = the
    minimum language others (or itself) declare FOR it;
    ``default_url`` = the cluster's declared x-default target (NULL
    when nobody declares one).

    Scale shape: CC is the path-halving min-label operator (log-
    diameter); everything else is map-combinable aggregates and hash
    joins on the member key.
    """
    from .dedup import connected_components

    edges = alts.select(
        F.col("url").alias("id_a"), F.col("href").alias("id_b")
    )
    cc = connected_components(edges)
    langs = (
        alts.filter(F.col("lang") != "x-default")
        .groupBy(F.col("href").alias("id"))
        .agg(F.min("lang").alias("lang"))
    )
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    defaults = (
        alts.filter(F.col("lang") == "x-default")
        .join(cc, alts["url"] == cc["id"])
        .groupBy("component")
        .agg(F.min("href").alias("default_url"))
    )
    return (
        cc.join(langs, "id", "left")
        .join(sizes, "component")
        .join(defaults, "component", "left")
        .select(
            F.col("id").alias("url"),
            "lang",
            F.col("component").alias("cluster_id"),
            "cluster_size",
            "default_url",
        )
    )


# rel=canonical extraction: attribute order varies in the wild and RE2
# (the oracle engine) has no lookahead, so the two orderings are two
# alternations coalesced — misses pathological multi-line attribute
# soup, the shallow-feature trade.
_CANON_REL_HREF = (
    r"""(?is)<link[^>]*rel\s*=\s*["']canonical["'][^>]*"""
    r"""href\s*=\s*["']([^"']+)["']"""
)
_CANON_HREF_REL = (
    r"""(?is)<link[^>]*href\s*=\s*["']([^"']+)["'][^>]*"""
    r"""rel\s*=\s*["']canonical["']"""
)


def canonical_hints(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Annotate fetched pages with the site's OWN alias verdict — the
    ``<link rel="canonical">`` hint (RFC 6596): the third
    canonicalization signal beside learned DUST rules (statistical) and
    redirect resolution (protocol-level).  A page declaring a canonical
    different from its fetch URL is the site saying "this URL is an
    alias" — the frontier should count the page against the canonical
    and stop re-fetching the alias family.

    ``canonical_hint``: the raw href (NULL when absent); ``canonical_
    target``: resolved — root-relative hrefs resolve against the fetch
    URL's scheme+host, absolute pass through, NULL falls back to the
    fetch URL itself.  Pure scan-side regexps, RE2-safe (no lookahead:
    both attribute orders are explicit alternatives).
    """
    html, url = F.col(html_col), F.col(url_col)
    hint = F.coalesce(
        F.nullif(F.regexp_extract(html, _CANON_REL_HREF, 1), F.lit("")),
        F.nullif(F.regexp_extract(html, _CANON_HREF_REL, 1), F.lit("")),
    )
    origin = F.regexp_extract(url, r"^([a-z][a-z0-9+.-]*://[^/?#]*)", 1)
    resolved = F.when(
        hint.isNull(), url
    ).when(
        F.startswith(hint, F.lit("/")), F.concat(origin, hint)
    ).otherwise(hint)
    return pages.withColumn("canonical_hint", hint).withColumn(
        "canonical_target", resolved
    )


def collapse_by_canonical(hinted: DataFrame, url_col: str = "url") -> DataFrame:
    """Per canonical target: alias-family size and the kept row (the
    canonical itself when fetched, else the smallest alias URL — a
    deterministic stand-in until the canonical is crawled).  One
    map-combinable min-struct aggregate on the target key."""
    return hinted.groupBy("canonical_target").agg(
        F.count("*").alias("n_aliases"),
        F.min(
            F.struct(
                (F.col(url_col) != F.col("canonical_target")).cast("int").alias(
                    "not_self"
                ),
                F.col(url_col).alias("u"),
            )
        )["u"].alias("kept_url"),
    )
