"""Mirror-host detection (operators/mirrors.py)."""

from pyspark.sql import functions as F

from cex_crawler_spark.operators.mirrors import (
    mirror_clusters,
    mirror_host_pairs,
)


def _sim_pages(spark):
    import __spark_entry__ as e

    return e.gen_sim_mirror_pages(spark)


def _pairs(spark, **kw):
    kw.setdefault("min_shared", 10)
    kw.setdefault("min_containment_pct", 90)
    kw.setdefault("max_hosts_per_digest", 8)
    return mirror_host_pairs(_sim_pages(spark), **kw)


def test_verdicts_and_partial_clone(spark):
    rows = {(r["host_a"], r["host_b"]): r.asDict() for r in _pairs(spark).collect()}
    # full mirrors: containment 100% even though m01 has 2 extra pages
    assert rows[("m00", "m01")]["is_mirror"]
    assert rows[("m00", "m01")]["shared"] == 50
    assert rows[("m00", "m01")]["n_b"] == 52
    assert rows[("m00", "m02")]["is_mirror"]
    assert rows[("m01", "m02")]["is_mirror"]
    # 60% partial clone: candidate pair, below the 90% bar
    assert not rows[("m00", "m03")]["is_mirror"]
    assert rows[("m00", "m03")]["shared"] == 30
    # unique hosts never pair at all (their digests have df 1)
    assert len(rows) == 6


def test_df_cap_drops_boilerplate_digest(spark):
    """Every host shares the 'blank' digest; without the doc-frequency
    cap all 12 hosts pair (66 candidate pairs) — the cap is what keeps
    pair fan-out off the boilerplate key."""
    uncapped = _pairs(spark, max_hosts_per_digest=12)
    assert uncapped.count() == 66
    # even then, a 1-shared pair is nowhere near a mirror verdict
    unique_pair = uncapped.filter(
        (F.col("host_a") == "m04") & (F.col("host_b") == "m05")
    ).first()
    assert unique_pair["shared"] == 1 and not unique_pair["is_mirror"]
    # boundary: cap == exact df keeps the digest
    assert _pairs(spark, max_hosts_per_digest=8).count() == 6


def test_clusters_pick_min_canonical(spark):
    got = {
        r["host"]: r["canonical_host"]
        for r in mirror_clusters(_pairs(spark)).collect()
    }
    assert got == {"m00": "m00", "m01": "m00", "m02": "m00"}


def test_composition_full_alias_stack(spark):
    """End-to-end composition: DUST strip collapses param aliases, then
    mirror clusters fold the clone host onto its canonical member — the
    frontier a scheduler then consumes has canonical URLs and knows
    which hosts are aliases."""
    import __spark_entry__ as e
    from cex_crawler_spark.operators.dust import (
        param_significance,
        strip_learned_params,
    )

    log = e.gen_sim_alias_log(spark)
    rules = param_significance(log, min_groups=3)
    stripped = strip_learned_params(log, rules)
    clusters = mirror_clusters(
        mirror_host_pairs(
            stripped, min_shared=10, min_containment_pct=90,
            max_hosts_per_digest=8,
        )
    )
    frontier = stripped.select(
        "host", F.col("canonical_url").alias("url")
    ).distinct()
    # the clone host folds onto the canonical member; the unmirrored
    # host is in no cluster
    got = {r["host"]: r["canonical_host"] for r in clusters.collect()}
    assert got == {"w0.site.com": "w0.site.com", "w1.site.com": "w0.site.com"}
    # and the stripped frontier is already collapsed to true pages/host
    counts = {
        r["host"]: r["n"]
        for r in frontier.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"w0.site.com": 40, "w1.site.com": 40, "unique.org": 50}
