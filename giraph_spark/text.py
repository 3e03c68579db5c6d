"""Text-analysis operators for a large-scale training-data pipeline.

Tokenization, quality scoring, language-ID, token counting and document
fingerprinting over a ``documents(doc_id, text, lang, source, n_chars)``
table. Everything is built from JVM-side Spark SQL expressions
(``regexp_extract_all`` + ``posexplode`` + aggregates — whole-stage
codegen, no Python in the hot path), so at 100 TB each op is one scan +
one keyed aggregation with map-side combine.

The reference engine has no text operators (its extension surface is the
per-vertex ``compute()`` UDF, ``graph/Computation.java:70``); these are
the pipeline-side capabilities a web-corpus engine needs alongside the
link-graph algorithms (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Frozen tokenizer grammar — shared (as a regex literal) with the DuckDB
# oracles; changing it breaks the cross-engine contract.
TOKEN_RE = "[a-z0-9]+"

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

# language marker words for the n-gram/stopword heuristic classifier
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
    "zh": ("de5", "shi4", "le5"),  # romanized placeholders
}


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, pos, token) — one row per token, 1-based position."""
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '({TOKEN_RE})', 1)")
    return docs.select(F.col(id_col), F.posexplode(toks).alias("pos0", "token")).select(
        id_col, (F.col("pos0") + 1).alias("pos"), "token"
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Per-document token statistics: (doc_id, n_tokens, n_distinct, n_chars)."""
    toks = F.expr(f"regexp_extract_all(lower(text), '({TOKEN_RE})', 1)")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.length("text").cast("long").alias("n_chars"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality scoring: length / stopword / diversity signals.

    All ratios are pure arithmetic over token counts so the score is
    reproducible bit-for-bit in any SQL engine (rounded to 6 decimals).
    """
    t = tokenize(docs)
    stop = F.sum(F.when(F.col("token").isin(*STOPWORDS), 1).otherwise(0))
    agg = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.sum(F.length("token")).alias("tok_chars"),
        stop.alias("n_stop"),
    )
    # 6dp half-up rounding done in EXACT INTEGER arithmetic: float round()
    # on a summed double differs between engines by 1 ulp exactly at the
    # .5e-6 boundary (seen at sf0.1), so every ratio is computed as
    # floor((num*2e6 + den) / (2*den)) / 1e6 over bigint num/den — any
    # ANSI engine replays it bit-for-bit.
    def r6(num, den):
        return (
            F.expr(
                f"(({num}) * 2000000 + ({den})) div (2 * ({den}))"
            ).cast("double")
            / F.lit(1000000.0)
        )

    n = "n_tokens"
    # quality = min(n,100)/400 + 7*nd/(20n) + min(tc,8n)/(32n) + 3(n-ns)/(20n)
    #         = [4n*min(n,100) + 560*nd + 50*min(tc,8n) + 240*(n-ns)] / (1600n)
    score_num = (
        f"4 * {n} * least({n}, 100) + 560 * n_distinct"
        f" + 50 * least(tok_chars, 8 * {n}) + 240 * ({n} - n_stop)"
    )
    return agg.select(
        "doc_id",
        F.col("n_tokens"),
        r6("n_stop", n).alias("stop_ratio"),
        r6("n_distinct", n).alias("distinct_ratio"),
        r6("tok_chars", n).alias("mean_token_len"),
        r6(score_num, f"1600 * {n}").alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language classifier: (doc_id, pred_lang, lang).

    Scores each candidate language by its marker-word hit count in the
    token multiset; argmax with deterministic tie-break on language code
    (ascending), falling back to 'und' when no marker hits at all.
    """
    t = tokenize(docs)
    scores = [
        F.sum(
            F.when(F.col("token").isin(*markers), 1).otherwise(0)
        ).alias(f"s_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    agg = t.groupBy("doc_id").agg(*scores)
    # argmax over a fixed small set of columns: fold with greatest + when
    langs = sorted(LANG_MARKERS)
    best_score = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties (checked last)
        pred = F.when(
            (F.col(f"s_{lang}") == best_score) & (best_score > 0), F.lit(lang)
        ).otherwise(pred)
    return (
        agg.select("doc_id", pred.alias("pred_lang"))
        .join(docs.select("doc_id", "lang"), "doc_id")
    )


def _shingle_array(n: int) -> F.Column:
    """Window array over a prebuilt ``toks`` column: all space-joined
    n-grams, built inside ONE codegen expression per document. The
    tokenizer regex runs exactly once per doc (tokenize-once-then-
    transform); the earlier posexplode + per-row array-indexing shape
    re-evaluated the regex per exploded row — measured 14x slower on the
    sf0.1 corpus (5.7s -> 0.4s for the same 260k shingles). The CASE
    guards short docs: Spark's sequence(1, size-n+1) runs DESCENDING
    when size < n and would emit bogus windows."""
    return F.expr(
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> array_join(slice(toks, i, {n}), ' ')) "
        f"ELSE array() END"
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams, space-joined.

    Tokenize once into an array column, window it with transform/slice
    (all codegen, no Python), dedupe inside the per-doc array before the
    explode so the explode emits exactly one row per distinct shingle.
    """
    t = docs.select(
        "doc_id",
        F.expr(f"regexp_extract_all(lower(text), '({TOKEN_RE})', 1)").alias("toks"),
    )
    return t.select(
        "doc_id", F.explode(F.array_distinct(_shingle_array(n))).alias("shingle")
    )


def fingerprints(docs: DataFrame, n: int = 3) -> DataFrame:
    """Document fingerprint: lexicographic min of md5(word-n-gram).

    A 1-min-sketch (winnowing-style content fingerprint): identical up to
    n-gram set equality, stable across engines because md5 hex strings
    compare identically everywhere.
    """
    sh = shingles(docs, n)
    return sh.groupBy("doc_id").agg(F.min(F.md5(F.col("shingle"))).alias("fingerprint"))


def ngram_occurrences(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) with one row per OCCURRENCE (not distinct) —
    the multiset the repetition metrics need. Same tokenize-once +
    transform/slice codegen construction as :func:`shingles`, minus the
    per-doc dedupe."""
    t = docs.select(
        "doc_id",
        F.expr(f"regexp_extract_all(lower(text), '({TOKEN_RE})', 1)").alias("toks"),
    )
    return t.select("doc_id", F.explode(_shingle_array(n)).alias("shingle"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    Returns (doc_id, n_tokens, dup_token_frac, top_token_frac,
    top_2gram_frac, dup_3gram_frac, repetitive):

    - ``dup_token_frac``   1 - distinct/total tokens (bag redundancy)
    - ``top_token_frac``   occurrences of the modal token / total
    - ``top_2gram_frac``   tokens covered by the modal 2-gram
      (2 × its count / n_tokens capped at 1.0 — overlapping
      occurrences can overcount; 0 when the doc has < 2 tokens)
    - ``dup_3gram_frac``   fraction of 3-gram occurrences that are
      repeats: 1 - distinct/total 3-grams (0 when < 3 tokens)
    - ``repetitive``       the filter bit a pipeline drops on
      (top_2gram_frac > 0.20 OR dup_3gram_frac > 0.30)

    These mirror the published Gopher / MassiveText repetition filters
    (dup-line metrics are omitted: the corpus is single-line). All
    ratios rounded to 6 dp for cross-engine bit-stability.

    Scale shape: three scans of the token stream, each ONE map-side-
    combined groupBy — no joins except the final 1:1 merges on doc_id;
    at 100 TB each metric is a shuffle keyed by (doc_id[, gram]) with
    combine, nothing quadratic.
    """
    t = tokenize(docs)
    base = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
    )
    top_tok = (
        t.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_c"))
    )
    g2 = ngram_occurrences(docs, 2)
    top_2g = (
        g2.groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_2gram_c"))
    )
    g3 = ngram_occurrences(docs, 3)
    d3 = g3.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_3grams"),
        F.countDistinct("shingle").alias("n_3grams_distinct"),
    )
    n = F.col("n_tokens").cast("double")
    # coalesce the COUNT, not the ratio: least() in Spark and DuckDB both
    # ignore nulls, so least(1.0, null) = 1.0 would mark 1-token docs
    # maximally repetitive
    top2 = F.least(
        F.lit(1.0),
        F.lit(2.0) * F.coalesce(F.col("top_2gram_c"), F.lit(0)) / n,
    )
    dup3 = F.coalesce(
        F.lit(1.0) - F.col("n_3grams_distinct") / F.col("n_3grams").cast("double"),
        F.lit(0.0),
    )
    out = (
        base.join(top_tok, "doc_id")
        .join(top_2g, "doc_id", "left")
        .join(d3, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.round(F.lit(1.0) - F.col("n_distinct") / n, 6).alias("dup_token_frac"),
        F.round(F.col("top_token_c") / n, 6).alias("top_token_frac"),
        F.round(top2, 6).alias("top_2gram_frac"),
        F.round(dup3, 6).alias("dup_3gram_frac"),
        ((top2 > 0.20) | (dup3 > 0.30)).alias("repetitive"),
    )


# PII grammar — shared verbatim with the DuckDB oracles. RE2-safe (no
# backrefs / lookaround) so Java regex and RE2 agree on every input.
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PII_IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PII_PHONE_RE = "\\+[0-9]{1,2} [0-9]{3} [0-9]{4}"


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction over a text column.

    Returns (doc_id, n_emails, n_ips, n_phones, redacted_md5) where
    ``redacted_md5`` is md5 of the text after replacing each match class
    with ``<EMAIL>`` / ``<IP>`` / ``<PHONE>`` (emails first, so an
    address is never half-eaten by the IP rule). The hash, not the
    text, is returned so the scan result is small and oracle-stable.

    Scale shape: pure JVM ``regexp_extract_all`` / ``regexp_replace``
    inside whole-stage codegen — one scan, no shuffle at all (the
    output is per-row). At 100 TB this is the cheapest op in the
    pipeline; the patterns are RE2-compatible (linear-time, no
    catastrophic backtracking on adversarial documents).
    """
    c = F.lower(F.col(text_col))
    n_emails = F.size(F.expr(f"regexp_extract_all(lower({text_col}), '({PII_EMAIL_RE})', 1)"))
    redact = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(redact, F.lit(f"({PII_IPV4_RE})"), F.lit(1)))
    redact = F.regexp_replace(redact, PII_IPV4_RE, "<IP>")
    n_phones = F.size(F.regexp_extract_all(redact, F.lit(f"({PII_PHONE_RE})"), F.lit(1)))
    redact = F.regexp_replace(redact, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
        F.md5(redact).alias("redacted_md5"),
    )


def contamination(
    docs: DataFrame, benchmark: DataFrame, n: int = 5
) -> DataFrame:
    """Benchmark-contamination check: training docs sharing word
    ``n``-grams with an eval/benchmark set.

    Returns (doc_id, n_shared) for every training doc with at least one
    distinct ``n``-gram that also occurs in ANY benchmark doc — the
    decontamination report a pretraining pipeline acts on (the method
    used for GPT-3/PaLM-style 8-13-gram dedup against eval sets; 5 here
    because the synthetic corpus is short).

    Scale shape: the benchmark shingle set is tiny next to the corpus,
    so it is deduped then BROADCAST; the check is a broadcast semi-ish
    inner join on the shingle string (hashable to 8 bytes at real scale)
    followed by one map-side-combined count per doc. No shuffle of the
    corpus-side shingle stream beyond the final per-doc count.
    """
    bench_sh = shingles(benchmark, n).select("shingle").distinct()
    doc_sh = shingles(docs, n)
    hits = doc_sh.join(F.broadcast(bench_sh), "shingle")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )


def boilerplate_shingles(
    docs: DataFrame,
    group_col: str = "source",
    n: int = 3,
    min_docs: int = 3,
    min_ratio: float = 0.1,
) -> DataFrame:
    """Template/boilerplate detection: word n-grams that recur across
    many documents of the same group (host / source / template bucket)
    are boilerplate — nav bars, footers, cookie banners — and poison
    training data if left in. Returns ``(group, shingle, n_docs,
    ratio)`` for shingles present in >= ``min_docs`` documents and >=
    ``min_ratio`` of the group's documents.

    Scale shape: shingling is codegen (posexplode + array slice, see
    :func:`shingles`); the document-frequency count is ONE map-side-
    combined groupBy on (group, shingle) — per-group doc totals are a
    second tiny aggregate joined back. No all-pairs comparison anywhere:
    cost is linear in total shingle occurrences, the same bound as the
    MinHash pipeline. The ratio is rounded to 6 decimals BEFORE the
    threshold test so any ANSI engine replays the cut identically.
    """
    grp = docs.select("doc_id", F.col(group_col).alias("grp"))
    per = (
        shingles(docs, n)
        .join(grp, "doc_id")
        .groupBy("grp", "shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = grp.groupBy("grp").agg(F.count_distinct("doc_id").alias("_nd"))
    return (
        per.join(totals, "grp")
        .withColumn("ratio", F.round(F.col("n_docs") / F.col("_nd"), 6))
        .where((F.col("n_docs") >= min_docs) & (F.col("ratio") >= min_ratio))
        .select(F.col("grp").alias(group_col), "shingle", "n_docs", "ratio")
    )


def pmi_pairs(
    docs: DataFrame,
    min_pair_docs: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Pointwise mutual information of token pairs by document
    co-presence: pmi(a,b) = ln(P(a,b) / (P(a) P(b))) with probabilities
    over documents. The corpus-statistics op behind collocation mining
    and topic drift checks. Returns (tok_a, tok_b, n_ab, pmi) for
    unordered pairs (tok_a < tok_b) co-present in >= ``min_pair_docs``
    documents; pmi is rounded to 6 decimals from the exact integer
    counts, so any ANSI engine replays it.

    Scale shape: the pair join is per-document (sum over docs of
    distinct-tokens^2) — bounded by document length, never corpus-
    quadratic; ``max_df`` additionally drops ubiquitous tokens the way
    :func:`jaccard_pairs` does. Counts are two map-side-combined
    groupBys; the total-document count rides in as a broadcast 1-row
    literal, not a driver constant.
    """
    dt = tokenize(docs).select("doc_id", "token").distinct()
    if max_df is not None:
        dfc = dt.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
        dt = dt.join(dfc.where(F.col("_df") <= max_df), "token").select(
            "doc_id", "token"
        )
    n_docs = docs.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("_n")
    )
    tf = dt.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    a = dt.select("doc_id", F.col("token").alias("tok_a"))
    b = dt.select("doc_id", F.col("token").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pair_docs)
    )
    return (
        pairs.join(tf.select(F.col("token").alias("tok_a"), F.col("df").alias("_dfa")), "tok_a")
        .join(tf.select(F.col("token").alias("tok_b"), F.col("df").alias("_dfb")), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("_n"))
                    / (F.col("_dfa") * F.col("_dfb")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    group_col: str = "source",
    k: int = 5,
    salt: int | None = 8,
) -> DataFrame:
    """Signature terms per group (host / source): TF-IDF with TF = raw
    term occurrences in the group and IDF = ln(N_groups / groups
    containing the term), top ``k`` terms per group (ties -> lexical).
    The 'what is this domain about' fingerprint a corpus curation
    pipeline uses for topic balancing. Returns (group, token, tf,
    score) with score rounded to 6 decimals from exact integer counts.

    Scale shape: two map-side-combined groupBys (term counts, group
    doc-frequency) + a broadcast 1-row group total; the per-group top-k
    is the skew-safe two-level :func:`giraph_spark.graph.grouped_topk`.
    """
    from giraph_spark.graph import grouped_topk

    t = tokenize(docs).join(
        docs.select("doc_id", F.col(group_col).alias("grp")), "doc_id"
    )
    tf = t.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("tf"))
    gdf = (
        t.select("grp", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("_gdf"))
    )
    n_groups = docs.select(F.col(group_col).alias("grp")).distinct().agg(
        F.count(F.lit(1)).alias("_ng")
    )
    scored = (
        tf.join(gdf, "token")
        .crossJoin(F.broadcast(n_groups))
        .select(
            "grp",
            "token",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("_ng") / F.col("_gdf").cast("double")),
                6,
            ).alias("score"),
        )
    )
    return grouped_topk(
        scored,
        ["grp"],
        [F.desc("score"), F.asc("token")],
        k,
        salt=salt,
        salt_on="token",
    ).select(
        F.col("grp").alias(group_col), "token", "tf", "score",
        F.col("rk").cast("long").alias("rk"),
    )


def filter_corpus(
    docs: DataFrame,
    min_tokens: int = 16,
    max_stop_ratio: float = 0.22,
    min_distinct_ratio: float = 0.4,
    mean_len_range: tuple[float, float] = (3.3, 5.8),
) -> DataFrame:
    """C4/Gopher-style keep/drop gate: compose the quality heuristics
    (:func:`quality_scores`) and repetition filters
    (:func:`repetition_stats`) into ONE verdict per document with the
    FIRST failing rule as ``reject_reason`` (deterministic rule order:
    too_short -> stopword_heavy -> low_diversity -> token_len ->
    repetitive; NULL when kept). This is the materialized filter table a
    training-data pipeline joins against — keep = ``reject_reason IS
    NULL``.

    Scale shape: both inputs are map-side-combined per-doc aggregates;
    the composition is a single 1:1 hash join on doc_id and a CASE —
    nothing beyond the two underlying token scans. All thresholds cut
    on 6dp-rounded ratios so the verdict replays exactly cross-engine.
    """
    lo, hi = mean_len_range
    q = quality_scores(docs)
    r = repetition_stats(docs).select("doc_id", "repetitive")
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("stop_ratio") > max_stop_ratio, F.lit("stopword_heavy"))
        .when(
            F.col("distinct_ratio") < min_distinct_ratio, F.lit("low_diversity")
        )
        .when(
            (F.col("mean_token_len") < lo) | (F.col("mean_token_len") > hi),
            F.lit("token_len"),
        )
        .when(F.col("repetitive"), F.lit("repetitive"))
        .otherwise(F.lit(None).cast("string"))
    )
    return q.join(r, "doc_id").select(
        "doc_id",
        reason.alias("reject_reason"),
        reason.isNull().alias("keep"),
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document for a bag-of-terms query
    — the classic search-ranking score an anchor-text / page-text index
    serves. Returns (doc_id, score) for documents matching at least one
    query term, score rounded to 6 decimals from exact integer tf/df
    counts (idf is the Robertson +1 form, always positive).

    Scale shape: ONE tokenize scan filtered to the query terms (a tiny
    isin pushed into the scan), one per-doc tf groupBy, one global df
    aggregate over that filtered stream, one broadcast of the 1-row
    (N, avg_len) corpus stats — no joins against the full token stream.
    """
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    t = tokenize(docs)
    lens = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("dl").alias("_avgdl")
    )
    qt = t.where(F.col("token").isin(*terms))
    tf = qt.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.col("_avgdl")
    )
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    return (
        tf.join(F.broadcast(dfreq), "token")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Perplexity-style quality signal from a corpus unigram LM: per
    document the mean surprisal -1/n * sum ln(p(token)) under the
    corpus-wide MLE unigram distribution (p = corpus_count / total).
    Low = stereotyped/boilerplate text, high = rare-token-heavy (OCR
    noise, gibberish) — the cheap first-pass stand-in for a trained-LM
    perplexity filter. Returns (doc_id, n_tokens, surprisal) rounded to
    6 decimals from exact integer counts.

    Scale shape: one token scan feeding TWO map-side-combined groupBys
    (corpus counts, per-doc sums) and a broadcast-sized join on token —
    the unigram table is vocabulary-sized, tiny next to the corpus.
    """
    t = tokenize(docs)
    totals = t.groupBy("token").agg(F.count(F.lit(1)).alias("_c"))
    grand = totals.agg(F.sum("_c").alias("_t"))
    return (
        t.join(F.broadcast(totals), "token")
        .crossJoin(F.broadcast(grand))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.sum(F.log(F.col("_c") / F.col("_t"))) / F.count(F.lit(1)),
                6,
            ).alias("surprisal"),
        )
    )


# GPT-2-style pre-tokenizer pattern, restricted to constructs shared by
# Java regex (Spark) and RE2 (DuckDB): the original's \s+(?!\S) lookahead
# branch is dropped (RE2 has no lookahead); contractions, space-prefixed
# word / number / punctuation runs, then whitespace runs.
BPE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def bpe_token_counts(docs: DataFrame) -> DataFrame:
    """Tokenizer-aware size accounting: count GPT-2-style pre-tokens
    per document (the unit a BPE tokenizer splits further), broken out
    by class. The budget a training pipeline actually packs against —
    whitespace word counts undercount punctuation-heavy text. Returns
    (doc_id, n_bpe_tokens, n_word, n_num, n_punct, n_ws).

    One regexp scan per row (JVM codegen), one groupBy — scan-speed at
    100 TB; the pattern is the disclosed :data:`BPE_RE` subset of the
    GPT-2 pre-tokenizer (lookahead branch dropped so any RE2-based
    engine replays it token-for-token).
    """
    toks = F.expr(f"regexp_extract_all(text, \"({BPE_RE})\", 1)")
    t = docs.select("doc_id", F.explode(toks).alias("tok"))
    is_word = F.col("tok").rlike(r"^ ?[a-zA-Z]+$") | F.col("tok").rlike(r"^'")
    is_num = F.col("tok").rlike(r"^ ?[0-9]+$")
    is_ws = F.col("tok").rlike(r"^\s+$")
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bpe_tokens"),
        F.sum(is_word.cast("long")).alias("n_word"),
        F.sum(is_num.cast("long")).alias("n_num"),
        F.sum(
            (~(is_word | is_num | is_ws)).cast("long")
        ).alias("n_punct"),
        F.sum(is_ws.cast("long")).alias("n_ws"),
    )


def phrase_match(docs: DataFrame, phrases: list[str]) -> DataFrame:
    """Exact token-sequence search: for each phrase (pre-tokenized by
    the same ``[a-z0-9]+`` rule) count matching documents and total
    occurrences — the positional-index lookup a quotation / template /
    contamination checker runs. Returns (phrase, n_docs, n_hits).

    Scale shape: one n-gram scan per distinct phrase LENGTH (not per
    phrase — phrases of equal length share a scan), filtered by a
    broadcast literal set; counts are map-side combined. No positional
    self-joins: the n-gram construction is the codegen array-slice of
    :func:`shingles` without the per-doc dedup.
    """
    import re as _re

    by_len: dict[int, list[str]] = {}
    for p in phrases:
        toks = _re.findall("[a-z0-9]+", p.lower())
        if toks:
            by_len.setdefault(len(toks), []).append(" ".join(toks))
    out = None
    for n, ps in sorted(by_len.items()):
        toks = F.expr(f"regexp_extract_all(lower(text), '({TOKEN_RE})', 1)")
        base = docs.select(
            "doc_id", F.posexplode(toks).alias("pos0", "token"), toks.alias("_t")
        )
        gram = F.concat_ws(
            " ", *[F.get("_t", F.col("pos0") + i) for i in range(n)]
        )
        hits = (
            base.where(F.col("pos0") + n <= F.size("_t"))
            .select("doc_id", gram.alias("phrase"))
            .where(F.col("phrase").isin(ps))
            .groupBy("phrase")
            .agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_hits"),
            )
        )
        out = hits if out is None else out.unionAll(hits)
    if out is None:
        raise ValueError(
            "phrase_match needs at least one phrase with alphanumeric tokens"
        )
    return out
