"""Link-graph operators: extraction, PageRank, trap demotion."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cex_crawler_spark.operators.linkgraph import (
    crawl_depth,
    extract_links,
    hits,
    page_links,
    pagerank,
    resolve_redirects,
)
from cex_crawler_spark.operators.traps import demote_trapped


def _np_pagerank(edges, n_iter=5, d=0.85):
    """Independent dense twin of the distributed recurrence."""
    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    dedup = sorted(set(edges))
    out = np.zeros(n)
    for s, _ in dedup:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dangling = r[out == 0].sum()
        contrib = np.zeros(n)
        for s, t in dedup:
            contrib[idx[t]] += r[idx[s]] / out[idx[s]]
        r = (1 - d) / n + d * dangling / n + d * contrib
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_matches_dense_twin(spark):
    # chain + cycle + dangling sink + duplicate edge (must count once)
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (0, 1), (5, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=5).collect()}
    want = _np_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # dangling redistribution conserves total rank mass
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_hub_outranks_leaf(spark):
    # star: everyone links to 0 — hub must clearly dominate
    edges = [(i, 0) for i in range(1, 8)]
    got = {r["id"]: r["rank"] for r in pagerank(spark.createDataFrame(edges, ["src", "dst"])).collect()}
    assert got[0] > 3 * got[1]


def test_extract_links_href_and_decoys(spark):
    html = (
        '<p>x</p><a href="https://a/1">one</a>'
        '<a name="top">not a link</a>'
        '<a href="https://a/2" rel="nofollow">two</a><a href="https://a/3"></a>'
    )
    df = spark.createDataFrame([("u", html)], ["url", "html"])
    rows = page_links(df).orderBy("href").collect()
    assert [(r["href"], r["anchor"]) for r in rows] == [
        ("https://a/1", "one"),
        ("https://a/2", "two"),
        ("https://a/3", ""),
    ]
    assert rows[0]["src_url"] == "u"


def test_extract_links_empty_page(spark):
    df = spark.createDataFrame([("u", "<html>no links</html>")], ["url", "html"])
    assert page_links(df).count() == 0
    # column expr also usable standalone
    assert df.select(F.size(extract_links(F.col("html"))).alias("n")).first()["n"] == 0


def test_demote_trapped_priority(spark):
    frontier = spark.createDataFrame(
        [("trap.com", "https://trap.com/cal/1", 0),
         ("ok.com", "https://ok.com/a", 0),
         ("trap.com", "https://trap.com/cal/2", 2)],
        ["host", "url", "priority"],
    )
    traps = spark.createDataFrame([("trap.com",)], ["host"])
    out = {r["url"]: r["priority"] for r in demote_trapped(frontier, traps, penalty=100).collect()}
    assert out == {
        "https://trap.com/cal/1": 100,
        "https://ok.com/a": 0,
        "https://trap.com/cal/2": 102,
    }


def test_anchor_text_profile_mode_and_ties(spark):
    from cex_crawler_spark.operators.linkgraph import anchor_text_profile

    rows = [
        ("s1", "t1", "click here"),
        ("s2", "t1", "click here"),
        ("s2", "t1", "acme store"),   # s2 links t1 twice → n_srcs 2
        ("s3", "t1", "acme store"),   # tie 2-2 → lexicographic min wins
        ("s1", "t2", "zebra"),
        ("s2", "t2", "apple"),        # tie 1-1 → 'apple'
    ]
    df = spark.createDataFrame(rows, "src_url string, href string, anchor string")
    out = {r["href"]: r for r in anchor_text_profile(df).collect()}
    t1 = out["t1"]
    assert (t1["n_links"], t1["n_srcs"], t1["top_anchor"], t1["top_n"]) == (
        4, 3, "acme store", 2)
    assert t1["top_share"] == 0.5
    assert out["t2"]["top_anchor"] == "apple" and out["t2"]["top_share"] == 0.5


def _np_hits(edges, n_iter=3):
    """Independent dense twin of the HITS recurrence."""
    dedup = sorted(set(edges))
    nodes = sorted({u for e in dedup for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for s, t in dedup:
        A[idx[s], idx[t]] = 1.0
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(n_iter):
        auth = A.T @ hub
        auth = auth / (np.linalg.norm(auth) or 1.0)
        hub = A @ auth
        hub = hub / (np.linalg.norm(hub) or 1.0)
    return {v: (hub[idx[v]], auth[idx[v]]) for v in nodes}


def test_hits_matches_dense_twin(spark):
    # bipartite-ish core + chain + duplicate edge (one endorsement)
    edges = [(0, 3), (0, 4), (1, 3), (1, 4), (2, 4), (4, 5), (5, 6), (0, 3)]
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(spark.createDataFrame(edges, ["src", "dst"]), n_iter=3).collect()
    }
    want = _np_hits(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v][0] == pytest.approx(want[v][0], abs=1e-12), v
        assert got[v][1] == pytest.approx(want[v][1], abs=1e-12), v


def test_hits_hub_vs_authority_separation(spark):
    # directory D links to many leaves; leaves never link out.
    edges = [("D", f"p{i}") for i in range(6)]
    got = {r["id"]: r for r in hits(spark.createDataFrame(edges, ["src", "dst"])).collect()}
    assert got["D"]["hub"] > 0.99 and got["D"]["auth"] == pytest.approx(0.0)
    for i in range(6):
        assert got[f"p{i}"]["hub"] == pytest.approx(0.0)
        assert got[f"p{i}"]["auth"] == pytest.approx(1 / np.sqrt(6), abs=1e-12)


def test_crawl_depth_layers_and_bound(spark):
    #   s -> a -> b -> c -> d   and s -> b (shortcut: b is depth 1, not 2)
    #   plus an unreachable island x -> y (must not appear at all)
    edges = [("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"),
             ("s", "b"), ("x", "y")]
    seeds = spark.createDataFrame([("s",)], ["url"])
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["url"]: r["depth"] for r in crawl_depth(e, seeds, max_depth=8).collect()}
    assert got == {"s": 0, "a": 1, "b": 1, "c": 2, "d": 3}
    # depth bound: with max_depth=2, d is never labeled
    got2 = {r["url"]: r["depth"] for r in crawl_depth(e, seeds, max_depth=2).collect()}
    assert got2 == {"s": 0, "a": 1, "b": 1, "c": 2}


def test_crawl_depth_multi_seed_min(spark):
    # two seeds; depth is the MIN over seeds; cycles must terminate
    edges = [("s1", "m"), ("m", "t"), ("s2", "t"), ("t", "s1")]
    seeds = spark.createDataFrame([("s1",), ("s2",)], ["url"])
    got = {
        r["url"]: r["depth"]
        for r in crawl_depth(spark.createDataFrame(edges, ["src", "dst"]), seeds).collect()
    }
    assert got == {"s1": 0, "s2": 0, "m": 1, "t": 1}


def _py_resolve(edges):
    """Pointer-chasing twin with visited-set cycle detection."""
    nxt = dict(edges)
    out = {}
    for u in nxt:
        cur, seen = u, set()
        while cur in nxt and cur not in seen:
            seen.add(cur)
            cur = nxt[cur]
        out[u] = (cur, True) if cur not in nxt else (None, False)
    return out


def test_resolve_redirects_chain(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    got = {
        r["url"]: (r["final_url"], r["resolved"])
        for r in resolve_redirects(spark.createDataFrame(edges, ["src", "dst"])).collect()
    }
    assert got == {"a": ("d", True), "b": ("d", True), "c": ("d", True)}


def test_resolve_redirects_cycle_and_tail(spark):
    # 3-cycle, a tail leading INTO the cycle, and an unrelated clean chain
    edges = [("x", "y"), ("y", "z"), ("z", "x"), ("w", "x"), ("a", "b")]
    got = {
        r["url"]: (r["final_url"], r["resolved"])
        for r in resolve_redirects(spark.createDataFrame(edges, ["src", "dst"])).collect()
    }
    assert got == _py_resolve(edges)
    assert got["a"] == ("b", True)
    for u in ("x", "y", "z", "w"):
        assert got[u] == (None, False)


def test_resolve_redirects_self_loop(spark):
    edges = [("s", "s"), ("t", "s")]
    got = {
        r["url"]: (r["final_url"], r["resolved"])
        for r in resolve_redirects(spark.createDataFrame(edges, ["src", "dst"])).collect()
    }
    assert got == {"s": (None, False), "t": (None, False)}


def test_resolve_redirects_long_chain_log_iters(spark):
    # 120-hop chain: pointer jumping must resolve it within
    # ceil(log2(120)) = 7 doublings — max_iters=8 proves O(log), a
    # one-hop-per-iteration walk would need 120.
    edges = [(i, i + 1) for i in range(120)]
    out = resolve_redirects(
        spark.createDataFrame(edges, ["src", "dst"]), max_iters=8
    )
    rows = out.collect()
    assert len(rows) == 120
    assert all(r["final_url"] == 120 and r["resolved"] for r in rows)


def test_resolve_redirects_mirror_fanin(spark):
    # ten mirrors all 301 to one canonical page via one intermediate
    edges = [(f"m{i}", "mid") for i in range(10)] + [("mid", "canon")]
    out = resolve_redirects(spark.createDataFrame(edges, ["src", "dst"]))
    finals = {r["final_url"] for r in out.collect()}
    assert finals == {"canon"}
    assert out.count() == 11


def test_demote_trapped_defaults_missing_priority(spark):
    frontier = spark.createDataFrame([("t.com", "u1"), ("o.com", "u2")], ["host", "url"])
    traps = spark.createDataFrame([("t.com",)], ["host"])
    out = {r["url"]: r["priority"] for r in demote_trapped(frontier, traps, penalty=7).collect()}
    assert out == {"u1": 7, "u2": 0}


class TestCanonicalHints:
    def test_orders_resolution_and_kept_preference(self, spark):
        from cex_crawler_spark.operators.linkgraph import (
            canonical_hints,
            collapse_by_canonical,
        )

        pages = spark.createDataFrame(
            [
                # canonical page, self-declared (relative href)
                ("https://s.com/a", '<link rel="canonical" href="/a">x'),
                # alias, rel-then-href
                ("https://s.com/a?sid=1", '<link rel="canonical" href="/a">'),
                # alias, href-then-rel, absolute
                ("https://s.com/a?sid=2",
                 '<link href="https://s.com/a" rel="canonical">'),
                # no hint at all
                ("https://s.com/b", "<html>plain</html>"),
                # alias family whose canonical was NEVER fetched
                ("https://s.com/c?x=2", '<link rel="canonical" href="/c">'),
                ("https://s.com/c?x=1", '<link rel="canonical" href="/c">'),
            ],
            "url string, html string",
        )
        hinted = canonical_hints(pages)
        tgt = {r["url"]: r["canonical_target"] for r in hinted.collect()}
        assert tgt["https://s.com/a?sid=1"] == "https://s.com/a"
        assert tgt["https://s.com/a?sid=2"] == "https://s.com/a"
        assert tgt["https://s.com/b"] == "https://s.com/b"
        got = {
            r["canonical_target"]: (r["n_aliases"], r["kept_url"])
            for r in collapse_by_canonical(hinted).collect()
        }
        # fetched canonical preferred as kept even though aliases sort lower
        assert got["https://s.com/a"] == (3, "https://s.com/a")
        assert got["https://s.com/b"] == (1, "https://s.com/b")
        # unfetched canonical: smallest alias stands in
        assert got["https://s.com/c"] == (2, "https://s.com/c?x=1")


def _np_trustrank(edges, seeds, n_iter=4, d=0.85):
    """Independent dense twin of the seed-biased recurrence."""
    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    dedup = sorted(set(edges))
    out = np.zeros(n)
    for s, _ in dedup:
        out[idx[s]] += 1
    sv = np.zeros(n)
    present = [s for s in seeds if s in idx]
    for s in present:
        sv[idx[s]] = 1.0 / len(present)
    t = sv.copy()
    for _ in range(n_iter):
        dangling = t[out == 0].sum()
        contrib = np.zeros(n)
        for s, v in dedup:
            contrib[idx[v]] += t[idx[s]] / out[idx[s]]
        # trust'(v) = (1-d)·s(v) + d·(contrib + m·s(v))
        t = (1 - d) * sv + d * (contrib + dangling * sv)
    return {v: t[idx[v]] for v in nodes}


def test_trustrank_matches_dense_twin(spark):
    from cex_crawler_spark.operators.linkgraph import trustrank

    # chain into a sink + cycle + a node unreachable from seeds
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (7, 8)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["id"])
    got = {r["id"]: r["trust"] for r in trustrank(df, seeds, n_iter=4).collect()}
    want = _np_trustrank(edges, [0])
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # seed teleport conserves total trust mass
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the 7→8 island is unreachable from the seed: zero trust
    assert got[7] == 0.0 and got[8] == 0.0


def test_trustrank_no_valid_seed_raises(spark):
    from cex_crawler_spark.operators.linkgraph import trustrank

    df = spark.createDataFrame([(0, 1)], ["src", "dst"])
    seeds = spark.createDataFrame([(99,)], ["id"])
    with pytest.raises(ValueError, match="no seed"):
        trustrank(df, seeds)


def test_spam_mass_flags_farm_not_core(spark):
    from cex_crawler_spark.operators.linkgraph import (
        pagerank,
        relative_spam_mass,
        trustrank,
    )

    # good triangle (0,1,2 with seed 0) + a 5-node farm boosting 10,
    # reachable only through one hijacked edge 2→10
    edges = (
        [(0, 1), (1, 2), (2, 0)]
        + [(i, 10) for i in range(11, 16)]
        + [(10, i) for i in range(11, 16)]
        + [(2, 10)]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["id"])
    pr = pagerank(df, n_iter=4)
    tr = trustrank(df, seeds, n_iter=4)
    # tiny graphs attenuate trust weakly (node 2 hands half its trust
    # through the hijack), so threshold at 0.5 here; the oracle fixture
    # (gen_sim_trustgraph) exercises the production 0.95 default
    rows = {r["id"]: r for r in relative_spam_mass(pr, tr, 0.5).collect()}
    # farm target outranks a good-core member yet is flagged
    assert rows[10]["rank"] > rows[1]["rank"]
    assert rows[10]["spam_suspect"] and rows[11]["spam_suspect"]
    assert not rows[0]["spam_suspect"] and not rows[1]["spam_suspect"]
    assert rows[10]["rel_mass"] > 0.5 > rows[1]["rel_mass"]


def test_degree_stats_histograms_and_zero_rows(spark):
    from cex_crawler_spark.operators.linkgraph import degree_stats

    # 0→{1,2}, 1→2, duplicate 0→1 collapses; 2 is dangling (out 0),
    # 0 is root (in 0)
    edges = [(0, 1), (0, 2), (0, 1), (1, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r["side"], r["degree"]): r["n_nodes"]
        for r in degree_stats(df).collect()
    }
    assert got == {
        ("out", 2): 1,  # node 0
        ("out", 1): 1,  # node 1
        ("out", 0): 1,  # node 2 (dangling)
        ("in", 0): 1,   # node 0 (root)
        ("in", 1): 1,   # node 1 (dup edge counted once)
        ("in", 2): 1,   # node 2
    }


def test_robots_meta_screen_directives_and_nofollow_links(spark):
    from cex_crawler_spark.operators.linkgraph import robots_meta_screen

    pages = [
        # plain page, two follow links
        ("p1", '<a href="u1">a</a><a href="u2">b</a>'),
        # noindex via normal order; links still followable
        ("p2", '<meta name="robots" content="noindex">'
               '<a href="u1">a</a>'),
        # page-level nofollow via REVERSED attribute order zeroes links
        ("p3", '<meta content="nofollow" name="robots">'
               '<a href="u1">a</a><a href="u2">b</a>'),
        # none == noindex + nofollow; case-insensitive tag
        ("p4", '<META NAME="robots" CONTENT="NONE"><a href="u1">a</a>'),
        # per-link rel=nofollow drops one of two
        ("p5", '<a href="u1" rel="nofollow">a</a><a href="u2">b</a>'),
        # decoy viewport meta must not trip anything
        ("p6", '<meta name="viewport" content="noindex"><a href="u1">a</a>'),
        # two meta tags union their directives
        ("p7", '<meta name="robots" content="noindex">'
               '<meta name="robots" content="nofollow"><a href="u1">a</a>'),
    ]
    df = spark.createDataFrame(pages, ["url", "html"])
    got = {r["url"]: r for r in robots_meta_screen(df).collect()}
    want = {
        # url: (noindex, nofollow, n_links, n_follow)
        "p1": (False, False, 2, 2),
        "p2": (True, False, 1, 1),
        "p3": (False, True, 2, 0),
        "p4": (True, True, 1, 0),
        "p5": (False, False, 2, 1),
        "p6": (False, False, 1, 1),
        "p7": (True, True, 1, 0),
    }
    for u, (ni, nf, nl, nfl) in want.items():
        r = got[u]
        assert (r["noindex"], r["nofollow"], r["n_links"], r["n_follow_links"]) == (
            ni, nf, nl, nfl), u


# ---------------------------------------------------------------- OPIC

def test_opic_hand_computed_chain(spark):
    """a->b->c, c dangling, init 100: two rounds worked by hand."""
    from cex_crawler_spark.operators.linkgraph import opic

    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    s1, pool1 = opic(e, n_rounds=1, init_cash=100, with_pool=True)
    got1 = {r["id"]: (r["cash"], r["history"]) for r in s1.collect()}
    # round 1: residues = c's 100 (dangling); grant 33, pool 1
    assert got1 == {"a": (33, 100), "b": (133, 100), "c": (133, 100)}
    assert pool1 == 1
    s2, pool2 = opic(e, n_rounds=2, init_cash=100, with_pool=True)
    got2 = {r["id"]: (r["cash"], r["history"]) for r in s2.collect()}
    # round 2: pool_in = 1 + 133 = 134 -> grant 44, pool 2
    assert got2 == {"a": (44, 133), "b": (77, 233), "c": (177, 233)}
    assert pool2 == 2


def test_opic_conserves_total_cash(spark):
    """cash + pool == N * init_cash exactly, every round count."""
    from cex_crawler_spark.operators.linkgraph import opic

    i = F.col("id")
    e = spark.range(600).select(
        ((i * 2654435761) % 80).alias("src"), ((i * 48271 + 17) % 90).alias("dst")
    )
    n = 90  # dst values 17..? src 0..79 union dst — count below
    for rounds in (1, 4):
        s, pool = opic(e, n_rounds=rounds, init_cash=1000, with_pool=True)
        agg = s.agg(
            F.sum("cash").alias("c"), F.count("*").alias("n"), F.sum("history").alias("h")
        ).collect()[0]
        assert agg["c"] + pool == agg["n"] * 1000
        assert agg["h"] > 0


def test_opic_importance_tracks_in_degree(spark):
    """a hub everyone links to accrues the largest history."""
    from cex_crawler_spark.operators.linkgraph import opic

    edges = [(f"p{i}", "hub") for i in range(10)] + [("hub", "p0")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    s = opic(e, n_rounds=5, init_cash=10_000)
    rows = {r["id"]: r["history"] for r in s.collect()}
    assert rows["hub"] == max(rows.values())
    assert rows["hub"] > rows["p3"]


# ---------------------------------------------------------- pagination

def test_pagination_hints_orders_and_resolution(spark):
    from cex_crawler_spark.operators.linkgraph import pagination_hints

    pages = spark.createDataFrame(
        [
            ("https://a.ex/p1", '<link rel="next" href="/p2">'),
            ("https://a.ex/p2", "<link href='https://a.ex/p3' rel='next'>"),
            ("https://a.ex/p3", '<link rel="stylesheet" href="/x.css">'),
        ],
        ["url", "html"],
    )
    got = {r["url"]: r["next_target"]
           for r in pagination_hints(pages).collect()}
    assert got["https://a.ex/p1"] == "https://a.ex/p2"  # root-relative
    assert got["https://a.ex/p2"] == "https://a.ex/p3"  # flipped order
    assert got["https://a.ex/p3"] is None               # decoy rel ignored


def test_paginate_series_chain_and_cycle(spark):
    from cex_crawler_spark.operators.linkgraph import paginate_series

    e = spark.createDataFrame(
        [("p1", "p2"), ("p2", "p3"), ("a", "b"), ("b", "c"), ("c", "a")],
        ["src", "dst"],
    )
    got = {r["url"]: r for r in paginate_series(e).collect()}
    assert (got["p1"]["series_id"], got["p1"]["position"]) == ("p3", 1)
    assert (got["p2"]["position"], got["p3"]["position"]) == (2, 3)
    assert got["p3"]["series_id"] == "p3"          # terminal is a member
    assert all(got[p]["series_len"] == 3 for p in ("p1", "p2", "p3"))
    for u in ("a", "b", "c"):
        assert got[u]["in_cycle"] and got[u]["series_id"] is None
        assert got[u]["position"] is None


def test_paginate_series_multi_head_and_long_chain(spark):
    from cex_crawler_spark.operators.linkgraph import paginate_series

    # a second head mis-tagged into page 2: both heads report position 1
    e = spark.createDataFrame(
        [("p1", "p2"), ("h1", "p2"), ("p2", "p3")], ["src", "dst"]
    )
    got = {r["url"]: r for r in paginate_series(e).collect()}
    assert got["h1"]["position"] == 1 and got["p1"]["position"] == 1
    assert got["p2"]["position"] == 2

    # 60-hop chain resolves inside the log-iteration bound
    long = spark.createDataFrame(
        [(f"q{i:02d}", f"q{i+1:02d}") for i in range(60)], ["src", "dst"]
    )
    res = paginate_series(long, max_iters=7).collect()
    rows = {r["url"]: r for r in res}
    assert rows["q00"]["position"] == 1 and rows["q60"]["position"] == 61
    assert rows["q30"]["series_len"] == 61 and not rows["q30"]["in_cycle"]


# ----------------------------------------------------------- hreflang

def test_hreflang_parse_any_attribute_order(spark):
    from cex_crawler_spark.operators.linkgraph import hreflang_alternates

    pages = spark.createDataFrame(
        [
            ("u1",
             '<link rel="alternate" hreflang="EN-gb" href="https://ex/en">'
             "<link href='https://ex/de' hreflang='de' rel='alternate'>"
             '<link rel="alternate" href="https://ex/x">'      # no hreflang
             '<link rel="stylesheet" hreflang="fr" href="https://ex/css">'),
        ],
        ["url", "html"],
    )
    got = {(r["lang"], r["href"]) for r in hreflang_alternates(pages).collect()}
    assert got == {("en-gb", "https://ex/en"), ("de", "https://ex/de")}


def test_hreflang_clusters_partial_declarations(spark):
    from cex_crawler_spark.operators.linkgraph import hreflang_clusters

    # b and c declare each other AND silent member a; nobody declares d
    alts = spark.createDataFrame(
        [
            ("https://ex/b", "en", "https://ex/a"),
            ("https://ex/b", "fr", "https://ex/c"),
            ("https://ex/b", "de", "https://ex/b"),
            ("https://ex/c", "en", "https://ex/a"),
            ("https://ex/c", "de", "https://ex/b"),
            ("https://ex/c", "x-default", "https://ex/a"),
            ("https://ex/z1", "en", "https://ex/z1"),   # self-only singleton
        ],
        ["url", "lang", "href"],
    )
    got = {r["url"]: r for r in hreflang_clusters(alts).collect()}
    assert len(got) == 4
    cid = got["https://ex/a"]["cluster_id"]
    assert cid == "https://ex/a"                       # min member
    assert all(got[f"https://ex/{m}"]["cluster_id"] == cid for m in "abc")
    assert got["https://ex/a"]["cluster_size"] == 3
    assert got["https://ex/a"]["lang"] == "en"         # declared BY others
    assert got["https://ex/b"]["lang"] == "de"
    assert got["https://ex/a"]["default_url"] == "https://ex/a"
    assert got["https://ex/z1"]["cluster_size"] == 1
    assert got["https://ex/z1"]["default_url"] is None


# ------------------------------------------------ adjacency gap coding

def test_adjacency_compression_hand_values_and_roundtrip(spark):
    from cex_crawler_spark.operators.linkgraph import (
        compress_adjacency, decompress_adjacency,
    )

    e = spark.createDataFrame(
        [(1, 12), (1, 3), (1, 5), (1, 5), (2, 9)], ["src", "dst"]
    )
    adj = compress_adjacency(e)
    rows = {r["src"]: r for r in adj.collect()}
    assert rows[1]["first_dst"] == 3 and rows[1]["gaps"] == [2, 7]
    # bits: bin(3)='11' (2) + bin(2)='10' (2) + bin(7)='111' (3) = 7
    assert rows[1]["gap_bits"] == 7 and rows[1]["raw_bits"] == 192
    assert rows[2]["gaps"] == [] and rows[2]["gap_bits"] == 4  # bin(9)

    back = {(r["src"], r["dst"])
            for r in decompress_adjacency(adj).collect()}
    assert back == {(1, 3), (1, 5), (1, 12), (2, 9)}


def test_adjacency_roundtrip_bulk_and_locality_win(spark):
    from cex_crawler_spark.operators.linkgraph import (
        compress_adjacency, decompress_adjacency,
    )

    i = F.col("id")
    e = spark.range(5000).select(
        ((i * 2654435761) % 300).alias("src"),
        (((i * 2654435761) % 300) * 50 + (i * 48271) % 40).alias("dst"),
    )
    adj = compress_adjacency(e).persist()
    orig = {(r["src"], r["dst"]) for r in e.distinct().collect()}
    back = {(r["src"], r["dst"]) for r in decompress_adjacency(adj).collect()}
    assert back == orig
    tot = adj.agg(F.sum("gap_bits").alias("g"), F.sum("raw_bits").alias("r")).collect()[0]
    assert tot["g"] * 4 < tot["r"]   # local targets -> >4x bit win
    adj.unpersist()


def test_opic_extension_is_lossless_and_conserves(spark):
    """2 rounds + 2 extended rounds == 4 straight rounds on a fixed
    graph; growing the graph keeps exact conservation at N'*c0."""
    from cex_crawler_spark.operators.linkgraph import opic

    i = F.col("id")
    e = spark.range(400).select(
        ((i * 2654435761) % 60).alias("src"), ((i * 48271 + 17) % 70).alias("dst")
    )
    straight = {r["id"]: (r["cash"], r["history"])
                for r in opic(e, n_rounds=4, init_cash=1000).collect()}
    s2, p2 = opic(e, n_rounds=2, init_cash=1000, with_pool=True)
    resumed = {r["id"]: (r["cash"], r["history"])
               for r in opic(e, n_rounds=2, init_cash=1000,
                             init_state=s2, init_pool=p2).collect()}
    assert resumed == straight

    # grow: 10 new pages linked both ways
    extra = spark.range(100).select(
        F.when(i % 2 == 0, 1000 + i % 10).otherwise((i * 7) % 60).alias("src"),
        F.when(i % 2 == 0, (i * 11) % 70).otherwise(1000 + i % 10).alias("dst"),
    )
    g2 = e.unionByName(extra)
    s3, p3 = opic(g2, n_rounds=3, init_cash=1000,
                  init_state=s2, init_pool=p2, with_pool=True)
    agg = s3.agg(F.sum("cash").alias("c"), F.count("*").alias("n")).collect()[0]
    assert agg["c"] + p3 == agg["n"] * 1000          # N' nodes, all at c0
    hist = {r["id"]: r for r in s3.collect()}
    assert hist[1005]["history"] > 0                 # new node accrued


# ------------------------------------------------------------ bow-tie

def test_bowtie_regions_classification(spark):
    from cex_crawler_spark.operators.linkgraph import bowtie_regions

    # core: 3-cycle 0->1->2->0; in: 10->0; chained in: 11->10;
    # out: 2->20->21; tendril off IN: 10->30 (disconnected from pivot)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (10, 0), (11, 10),
         (2, 20), (20, 21), (10, 30)],
        ["src", "dst"],
    )
    got = {r["id"]: r for r in bowtie_regions(e, 0).collect()}
    assert {i: got[i]["region"] for i in got} == {
        0: "core", 1: "core", 2: "core",
        10: "in", 11: "in",
        20: "out", 21: "out",
        30: "disconnected",
    }
    assert got[1]["fwd_depth"] == 1 and got[1]["bwd_depth"] == 2
    assert got[11]["bwd_depth"] == 2 and got[11]["fwd_depth"] is None
    assert got[21]["fwd_depth"] == 4   # 0->1->2->20->21
    assert got[30]["fwd_depth"] is None and got[30]["bwd_depth"] is None


# ----------------------------------------------------------- triangles

def test_triangle_counts_clique_and_hub(spark):
    from cex_crawler_spark.operators.linkgraph import triangle_counts

    # K4 on {0,1,2,3}; star hub 10 -> {11,12,13}; direction/dup noise
    e = [(a, b) for a in range(4) for b in range(4) if a < b]
    e += [(3, 2), (1, 0)]                      # reversed dups collapse
    e += [(10, 11), (10, 12), (10, 13), (10, 10)]  # self-loop dropped
    df = spark.createDataFrame(e, ["src", "dst"])
    got = {r["id"]: r for r in triangle_counts(df).collect()}
    # K4: every node degree 3, in C(3,2)=3 triangles, clustering 1000
    for v in range(4):
        assert (got[v]["degree"], got[v]["triangles"]) == (3, 3)
        assert got[v]["clustering_permille"] == 1000
    assert got[10]["degree"] == 3 and got[10]["triangles"] == 0
    assert got[10]["clustering_permille"] == 0
    assert got[11]["degree"] == 1 and got[11]["clustering_permille"] is None


# -------------------------------------------------------------- k-core

def test_kcore_iterated_peeling(spark):
    from cex_crawler_spark.operators.linkgraph import kcore_membership

    e = []
    # K5 clique 0..4 — the 3-core nucleus
    e += [(a, b) for a in range(5) for b in range(5) if a < b]
    # satellite 10 with 3 edges INTO the clique — survives k=3
    e += [(10, 0), (10, 1), (10, 2)]
    # staircase: 20 has degree 3 but only to degree-1 leaves — peels
    # in round 2 after its leaves peel in round 1
    e += [(20, 21), (20, 22), (20, 23)]
    got = {r["id"]: r["degree_in_core"] for r in kcore_membership(
        spark.createDataFrame(e, ["src", "dst"]), k=3).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 10}
    assert got[10] == 3 and got[3] == 4
    assert got[0] == 5  # 4 clique peers + satellite


def test_kcore_empty_when_k_too_high(spark):
    from cex_crawler_spark.operators.linkgraph import kcore_membership

    e = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert kcore_membership(e, k=5).count() == 0
