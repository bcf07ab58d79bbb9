"""Text-analysis column functions for large-scale training-data pipelines.

All pure Catalyst expressions (JVM-side, whole-stage-codegen) — no Python
in the hot path.  Each has deliberately simple, SQL-expressible semantics
so DuckDB oracles can verify them value-for-value:

- tokenization: whitespace split (plus a BPE-ish word/punct regex count);
- language ID: English-stopword-ratio heuristic;
- quality score: length / punctuation / stopword signals;
- fingerprint: md5 of whitespace-normalized lowercase text (md5 so the
  oracle can recompute it; the engine's shuffle keys stay xxhash64).

The reference has no text pipeline beyond keyword extraction
(/root/reference/deepseek_analyzer.py:149-199 — see functions/extract.py);
these operators are the scale-path additions a 100 TB corpus needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a small, fixed stopword list — identical in the DuckDB oracles
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "this", "that",
]


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    toks = tokens(F.lower(text))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars."""
    n = F.length(text)
    n_punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?'\"()\-]", ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def mean_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def lang_id(text: Column, threshold: float = 0.08) -> Column:
    """'en' if the stopword ratio clears the threshold, else 'other'.

    An n-gram-free heuristic chosen for SQL-expressibility; swap in a
    real fastText/CLD model via a pandas UDF at production quality.
    """
    return F.when(stopword_ratio(text) >= threshold, "en").otherwise("other")


def quality_score(text: Column) -> Column:
    """Composite quality in [0,1]: stopword presence, sane token length,
    low punctuation density, non-trivial length."""
    s = (
        F.least(stopword_ratio(text) * 4, F.lit(1.0)) * 0.4
        + F.when((mean_token_len(text) >= 3) & (mean_token_len(text) <= 10), 1.0)
        .otherwise(0.0)
        * 0.3
        + F.greatest(F.lit(0.0), 1 - punct_ratio(text) * 5) * 0.2
        + F.least(token_count(text) / 20.0, F.lit(1.0)) * 0.1
    )
    return F.round(s, 6)


def normalize_text(text: Column) -> Column:
    """Lowercase + collapse whitespace — the dedup canonical form."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 hex of the normalized text (oracle-friendly)."""
    return F.md5(normalize_text(text))


def fingerprint64(text: Column) -> Column:
    """64-bit content key for shuffle-side dedup (engine standard)."""
    return F.xxhash64(normalize_text(text))


def html_to_text(html: Column) -> Column:
    """HTML → visible text: drop script/style blocks, strip tags, unescape
    basic entities, collapse whitespace.

    The engine analog of the reference's BeautifulSoup extraction
    (/root/reference/exchange/base_scraper.py:271-285: kill script/style,
    get_text, collapse whitespace) as pure regexp expressions — RE2-safe
    (no backreferences) so the DuckDB oracle can run the same chain.
    """
    c = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    for ent, rep in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")]:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) over normalized text.

    One regex pass: a lookahead group captures the k-token window at
    every token position (overlapping matches).  An earlier
    transform+element_at formulation re-evaluated the outer tokenization
    per array element inside the interpreted lambda — ~10× slower.
    """
    window = " ".join([r"\S+"] * k)
    return F.regexp_extract_all(
        normalize_text(text), F.lit(f"(?=({window}))\\S+"), 1
    )


def unigram_logprob_scores(df, text_col: str, id_col: str):
    """Per-document mean negative log-likelihood under the corpus's OWN
    unigram MLE language model — the classic LM-based quality gate for
    training-data curation (cf. Wenzek et al., "CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data", arXiv:1911.00359
    — public paper; there a KenLM model, here the self-trained unigram
    degenerate case, which is fully relational and oracle-checkable).
    High scores = rare-token-heavy noise; unusually low scores =
    repetitive boilerplate.  Returns ``(id, n_tokens, avg_neg_logprob)``.

    Scale shape: explode lowercased whitespace tokens; corpus term
    frequencies via a map-side-combinable count; the corpus-total is a
    one-row broadcast (never a window-over-everything, which would
    single-partition the corpus); token→frequency is a plain hash join
    whose skew (stopwords) AQE splits.  The token explode is scanned
    twice (frequency pass + scoring pass) — at 100 TB that is cheaper
    than persisting an exploded corpus ~10× the input size.
    """
    from pyspark.sql import DataFrame  # noqa: F401 (documentation import)

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n_total"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log("n_total") - F.log("c")), 4
            ).alias("avg_neg_logprob"),
        )
    )


def bigram_logprob_scores(df, text_col: str, id_col: str, lam: float = 0.5):
    """Per-document mean −ln of the INTERPOLATED bigram probability
    ``λ·P(wᵢ|wᵢ₋₁) + (1−λ)·P(wᵢ)`` under the corpus's own MLE counts —
    the next rung above :func:`unigram_logprob_scores` on the CCNet
    ladder (context-aware: "the the the" scores terribly here and
    fine under unigrams).  λ defaults to 0.5 (binary-exact, so the
    interpolation weight itself can never be a cross-engine ulp).
    Docs with < 2 tokens have no bigrams and drop out.  Returns
    ``(id, n_bigrams, avg_neg_logprob)``.

    Scale shape: positions via posexplode; the (wᵢ₋₁, wᵢ) pairing is a
    per-doc lag window (partitioned by doc id — bounded by document
    length, never corpus-wide); corpus unigram/bigram counts are
    map-side-combinable aggregates; scoring is three hash joins
    (bigram count, previous-token count, token count) plus the one-row
    total broadcast.  Stopword-headed skew in the joins is AQE's
    skew-join case, same as the unigram scorer.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("id").orderBy("pos")
    big = (
        toks.withColumn("prev", F.lag("tok").over(w))
        .filter(F.col("prev").isNotNull())
        .select("id", "prev", "tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n_total"))
    bfreq = big.groupBy("prev", "tok").agg(F.count("*").alias("cb"))
    scored = (
        big.join(bfreq, ["prev", "tok"])
        .join(
            freq.select(
                F.col("tok").alias("prev"), F.col("c").alias("cp")
            ),
            "prev",
        )
        .join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__nll",
            -F.log(
                F.lit(lam) * F.col("cb") / F.col("cp")
                + F.lit(1.0 - lam) * F.col("c") / F.col("n_total")
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("__nll"), 4).alias("avg_neg_logprob"),
    )


# ------------------------------------------------- PII scrubbing

# Patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): plain character classes, no lookarounds, literal '-' last.
PII_EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RX = r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4,8}"


def pii_email_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RX), 0))


def pii_phone_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_RX), 0))


def scrub_pii(text: Column) -> Column:
    """Redact emails/phones in place — the corpus-scrub transform a
    training pipeline runs before packing.  Pure Catalyst (two
    regexp_replace), so it rides the scan projection; order matters
    (emails first — a phone pattern can never span an email, the
    reverse could bite if the patterns ever overlap)."""
    return F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL_RX, "[EMAIL]"),
        PII_PHONE_RX,
        "[PHONE]",
    )


def repetition_stats(df, text_col: str, id_col: str):
    """Gopher-style repetition screens (Rae et al., arXiv:2112.11446
    §A1.1 — public paper): per doc, the fraction of tokens that are the
    single most frequent token, the same for the most frequent bigram,
    and the distinct-token ratio.  Highly repetitive documents (boiler,
    keyword stuffing, generation loops) score high top-fractions / low
    distinct ratios and get filtered.

    Relational formulation — the per-doc token mode is NOT a per-row
    array expression but two explode → map-combinable count aggs joined
    back, so it scales like any word-count job (skew = the longest doc,
    bounded by max doc length, not by corpus size).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("t"),
    )
    uni = (
        toks.groupBy("id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_c"),
            F.count("*").alias("n_distinct"),
        )
    )
    big = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), 2)).alias("b"),
    )
    big = (
        big.groupBy("id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_big_c"), F.sum("c").alias("n_bigrams"))
    )
    return uni.join(big, "id", "left").select(
        F.col("id"),
        F.col("n_tokens"),
        F.round(F.col("top_c") / F.col("n_tokens"), 6).alias("top_token_frac"),
        F.round(
            F.coalesce(F.col("top_big_c") / F.col("n_bigrams"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "distinct_ratio"
        ),
    )


def tfidf_top_terms(df, text_col: str, id_col: str, k: int = 5):
    """Top-``k`` TF-IDF terms per document — the classic keyword
    extractor (Salton & Buckley 1988), the relational way.

    score = tf · ln(N / df), rounded to 4 decimals BEFORE ranking so
    the ordering is reproducible across engines (ln is only ~1-ulp
    accurate everywhere; an unrounded score can rank-flip two
    near-ties between JVM and any oracle).  Ties break on the token
    string descending — (score, token) totally orders a group.

    Shape: explode → two map-combinable aggregates (term frequency,
    document frequency); N rides a one-row broadcast (no window over
    the corpus); the per-doc top-k uses operators/skew.salted_topk, so
    a million-token document never serializes into one window task.
    Returns (id, token, score, rank).
    """
    from ..operators.skew import salted_topk
    from pyspark.sql import functions as F

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    tf = tok.groupBy("id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    ndocs = df.select(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "id",
            "token",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 4).alias(
                "score"
            ),
        )
    )
    return salted_topk(scored, ["id"], ["score", "token"], k)


# Block-level boilerplate removal (jusText / Arc90-readability family:
# Kohlschütter et al. WSDM'10 showed shallow text features — block length
# and link density — separate content from chrome almost as well as DOM
# features).  Split on block-level tags, score each block's visible text
# length and link-text share, keep the dense blocks.  All RE2-safe
# regexps so the DuckDB oracle replays the chain verbatim.
_BLOCK_SPLIT = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|br|section|article|"
    r"nav|header|footer)[^>]*>"
)


def block_density_extract(
    html: Column, min_text_chars: int = 25, max_link_pct: int = 30
) -> Column:
    """struct(content, n_blocks, n_kept): the document's main text after
    dropping link-dense / short blocks (nav bars, footers, related-link
    boxes) — the block-level rung ABOVE the corpus-level line scrub
    (operators/dedup.scrub_duplicated_lines): density needs no corpus
    statistics, the line scrub catches what density can't (long
    boilerplate), and a curation pipeline runs both.

    A block survives iff its visible text has ≥ ``min_text_chars`` chars
    AND link-anchor text is ≤ ``max_link_pct`` percent of it (integer
    cross-multiplication — engine-exact).  ``n_blocks`` counts non-empty
    blocks only, so engines' differing empty-split semantics can't leak
    into the result.  Anchors cut by a block boundary simply don't count
    as link text — the shallow-feature trade, not a bug.  Scan-side
    Catalyst throughout (split / transform / filter), fan-out = blocks
    per document.
    """

    def _collapse(c: Column) -> Column:
        return F.trim(F.regexp_replace(c, r"\s+", " "))

    def _vis(b: Column) -> Column:
        return _collapse(F.regexp_replace(b, r"(?s)<[^>]+>", " "))

    def _link_len(b: Column) -> Column:
        joined = F.array_join(
            F.regexp_extract_all(b, F.lit(r"(?is)<a[^>]*>(.*?)</a>"), 1), " "
        )
        return F.length(_collapse(F.regexp_replace(joined, r"(?s)<[^>]+>", " ")))

    cleaned = F.regexp_replace(
        F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " "),
        r"(?is)<style[^>]*>.*?</style>",
        " ",
    )
    scored = F.transform(
        F.split(cleaned, _BLOCK_SPLIT),
        lambda b: F.struct(_vis(b).alias("t"), _link_len(b).alias("ll")),
    )
    nonempty = F.filter(scored, lambda s: F.length(s["t"]) > 0)
    kept = F.filter(
        nonempty,
        lambda s: (F.length(s["t"]) >= F.lit(min_text_chars))
        & (s["ll"] * 100 <= F.length(s["t"]) * F.lit(max_link_pct)),
    )
    return F.struct(
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("content"),
        F.size(nonempty).cast("long").alias("n_blocks"),
        F.size(kept).cast("long").alias("n_kept"),
    )
