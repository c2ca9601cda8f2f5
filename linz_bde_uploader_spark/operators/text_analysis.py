"""Text-analysis operators over a documents table: language ID,
quality scoring, token statistics, document fingerprinting.

The per-document metrics are pure column expressions (whole-stage
codegen) — they run in the scan stage with zero shuffles, one pass
over the corpus regardless of scale. The corpus-level operators
(term_frequencies, tf_idf) shuffle (token, doc_id) pairs, never
document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linz_bde_uploader_spark.cache import persist, release
from linz_bde_uploader_spark.functions.hashing import hash60
from linz_bde_uploader_spark.functions.text import (
    LANG_STOPWORDS, avg_token_length, quality_score, stopword_count,
    token_count, tokens, unique_token_count, word_shingles,
)


def token_stats(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics: (doc_id, n_tokens, n_unique,
    avg_token_len)."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        unique_token_count(t).alias("n_unique"),
        F.round(avg_token_length(t), 6).alias("avg_token_len"),
    )


def quality(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Composite quality score per document (see
    functions.text.quality_score for the formula)."""
    return docs.select(
        F.col(id_col),
        F.round(quality_score(F.col(text_col)), 6).alias("quality"),
    )


def language_pred(t: F.Column) -> F.Column:
    """The language-ID prediction as a pure column expression (see
    ``language_id``) — exposed so pipelines that also project other
    per-doc columns can compute it in the SAME scan instead of
    joining the ``language_id`` relation back by doc id."""
    scores = [(lang, stopword_count(t, words))
              for lang, words in sorted(LANG_STOPWORDS.items())]
    best = F.greatest(*[s for _, s in scores])
    # first matching when() wins -> ties break by language code order
    expr = None
    for lang, s in scores:
        cond = (s == best) & (best > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def language_id(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID: score each language by its
    stopword hit count; predict the arg-max (ties broken by language
    code order), 'und' (undetermined) when no list scores > 0."""
    return docs.select(F.col(id_col),
                       language_pred(F.col(text_col)).alias("pred_lang"))


def term_frequencies(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Global term-frequency table: one row per distinct token with
    its total occurrence count and document frequency.

    The explode happens in the scan stage; both counts come out of ONE
    hash shuffle keyed by token (count + count-distinct-doc computed
    together as partial aggregates). At corpus scale this is the
    canonical vocabulary-building pass — the shuffle carries (token,
    doc_id) pairs, never document text."""
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(tokens(F.col(text_col))).alias("token"))
    return toks.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def tf_idf(docs: DataFrame, text_col: str = "text",
           id_col: str = "doc_id", cache_tf: bool = False) -> DataFrame:
    """Per-(document, term) TF-IDF: (tf / doc_len) * ln(N / df).

    The per-(doc, token) count is the sufficient statistic for
    everything downstream — doc length = sum(tf) over the doc,
    document frequency = row count over the token. Doc length is a
    window over the doc partition (bounded by one document's
    vocabulary — safe); document frequency is a groupBy+join, NOT a
    window over the token partition: an unbounded window must buffer
    every row of a token in one task, and stopword-class tokens
    ('the') would concentrate ~n_docs rows on a single straggler at
    corpus scale. The df relation is one row per distinct token, so
    AQE broadcasts it when the vocabulary is small and hash-joins
    otherwise.

    The tf relation feeds two consumers, so the lazy plan tokenizes
    the corpus twice — both passes are pure map-side explode feeding
    partial aggregation (extra CPU, no extra shuffle, no straggler;
    and a caller's doc-subset filter still pushes into the tf-branch
    scan, which a forced materialization would block).
    ``cache_tf=True`` persists the tf relation instead — one
    tokenize, at the cost of pinning |corpus vocabulary| rows in
    cluster storage.
    The corpus size N is a 1-row count (parquet footer metadata)
    broadcast into the projection; no driver collect. All inputs to
    the double math are exact integers, so both engines compute
    identical doubles (rounded to 6 dp at the boundary)."""
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(tokens(F.col(text_col))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    if cache_tf:
        tf = persist(tf)
    n_docs = docs.agg(F.count("*").alias("n_corpus"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    enriched = (
        tf.withColumn("n_tokens",
                      F.sum("tf").over(Window.partitionBy("doc_id")))
        .join(dfreq, "token")
    )
    return (
        enriched.join(F.broadcast(n_docs))
        .select(
            "doc_id", "token",
            F.round(
                (F.col("tf").cast("double") / F.col("n_tokens").cast("double"))
                * F.log(F.col("n_corpus").cast("double") / F.col("df").cast("double")),
                6).alias("tfidf"),
        )
    )


def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", shingle_words: int = 3) -> DataFrame:
    """Content fingerprint: minimum 60-bit hash over word shingles
    (winnowing-style min-sampling with window = whole document).
    Robust to reordering-free edits; equal fingerprints => near-certain
    shared shingle content."""
    sh = word_shingles(F.col(text_col), shingle_words)
    fp = F.array_min(F.transform(sh, lambda s: hash60(s)))
    return docs.select(F.col(id_col), fp.alias("fingerprint"))


# ------------------------------------------------------- BPE training


def bpe_train(docs: DataFrame, n_merges: int = 10,
              text_col: str = "text",
              persist_every: int = 16) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge training (Sennrich et al., ACL 2016 —
    public algorithm) as iterative DataFrame passes: learn the
    ``n_merges`` highest-frequency adjacent-symbol merges over the
    corpus, returned in merge order.

    Scale shape: the corpus collapses ONCE to its (word, freq) table
    — the classic BPE trick; at 100 TB the word table is orders of
    magnitude smaller than the corpus and that groupBy is the only
    pass that ever reads the text. Each iteration then runs on the
    word table alone: adjacent pairs come from one zip+explode, the
    winning pair is a 1-row argmax (the only driver traffic, same
    scalar-per-round shape as kmeans_fit), and the merge applies as
    one codegen ``regexp_replace`` whose lookahead keeps greedy
    left-to-right semantics on runs ("a a a a" -> "aa aa", never a
    consumed-separator miss). No Python touches a row at any point.

    Ties break lexicographically on the pair — deterministic across
    runs and partitionings. The returned merges feed a tokenizer
    directly; re-tokenizing a corpus with them is the same
    regexp_replace chain applied to documents.

    Per-round cost is ONE job (the argmax): each round's plan chains
    its regexp_replace onto the persisted word table lazily, exactly
    as bpe_apply chains the whole merge list in one codegen stage —
    the earlier persist-per-round form paid a second job (persist +
    count) every round just to materialize a table the next argmax
    would have computed in-stage anyway (measured 2.3x the argmax-only
    round cost at sf0.1). ``persist_every`` bounds the recompute chain
    for LARGE merge counts: every that-many rounds the accumulated
    chain is materialized into a fresh persisted base, so a 50k-merge
    production training replays at most ``persist_every`` cheap
    regexp passes per argmax instead of the whole history, while the
    10-merge default never pays an intermediate materialization."""
    import re as _re

    sep = "\x1f"
    words = (
        docs.select(F.explode(F.split(F.trim(F.col(text_col)),
                                      r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("freq"))
        # symbol string: ␟c␟c␟ boundaries around every char symbol
        .withColumn("s", F.concat(F.lit(sep),
                                  F.array_join(F.split("w", ""), sep),
                                  F.lit(sep)))
        .select("s", "freq")
    )
    base = persist(words)
    base.count()
    words = base
    merges: list[tuple[str, str]] = []
    try:
        for rnd in range(n_merges):
            toks = F.filter(F.split("s", sep),
                            lambda x: x != F.lit(""))
            pairs = F.arrays_zip(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
                .alias("a"),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
                .alias("b"))
            top = (
                words.select(F.explode(pairs).alias("p"), "freq")
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), "a", "b")
                .limit(1).collect()
            )
            if not top:
                break
            a, b = top[0]["a"], top[0]["b"]
            merges.append((a, b))
            pat = (_re.escape(sep + a + sep + b)
                   + f"(?={_re.escape(sep)})")
            words = words.withColumn(
                "s", F.regexp_replace("s", pat, sep + a + b))
            if (rnd + 1) % persist_every == 0:
                nxt = persist(words)
                nxt.count()
                release(base)
                base = words = nxt
    finally:
        release(base)
    return merges


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text",
              out_col: str = "bpe_tokens") -> DataFrame:
    """Tokenize with a trained merge list: the same lookahead
    regexp_replace chain applied per word, all codegen — the
    token array column is ready for packing/counting."""
    import re as _re

    sep = "\x1f"
    s = F.concat(F.lit(sep), F.array_join(
        F.split(F.col("w"), ""), sep), F.lit(sep))
    for a, b in merges:
        pat = _re.escape(sep + a + sep + b) + f"(?={_re.escape(sep)})"
        s = F.regexp_replace(s, pat, sep + a + b)
    per_word = F.filter(F.split(s, sep), lambda x: x != F.lit(""))
    exploded = (docs.select(
        *docs.columns,
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+"))
        .alias("_pos", "w"))
        .filter(F.col("w") != ""))
    other = list(docs.columns)
    # collect_list is NOT order-preserving after a shuffle: carry the
    # word position and sort before flattening
    return (exploded.withColumn("_t", per_word)
            .groupBy(*other)
            .agg(F.flatten(F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_t"))),
                lambda st: st["_t"])).alias(out_col)))
