"""Corpus-statistics operators: unigram LM scoring, TF-IDF keywords,
vocabulary drift.

The statistical-quality layer of a training-data pipeline, above the
per-document heuristics in ``operators/text.py``/``quality.py``:

- ``unigram_logprob`` — score every document under the corpus's own
  unigram language model (avg token log-probability + perplexity). The
  cheap LM-based quality signal (CCNet-style, Wenzek et al. 2020 use a
  5-gram LM; the unigram variant is the shuffle-friendly first cut):
  gibberish and boilerplate-stuffed documents sit far from the corpus
  mean.
- ``tfidf_keywords`` — top-k characteristic terms per document by
  TF-IDF; the standard topical fingerprint for clustering/labeling.
- ``vocab_drift`` — corpus-level vocabulary comparison between two
  snapshots: type counts, new/lost types, token-level OOV rate. A
  crawler or filter change shows up as OOV mass long before model
  metrics move.

Scale notes (100 TB corpus):
- everything is explode → ``groupBy(token)``-family aggregation: keys are
  high-cardinality and map-side combined; no driver-side state.
- ``unigram_logprob`` joins tokens against the vocabulary ON the token
  key — a plain shuffle join that Spark co-partitions; the vocabulary is
  O(distinct tokens), never collected.
- ``tfidf_keywords``'s per-document rank window partitions by ``doc_id``
  — per-task state is ONE document's distinct tokens (documents are
  bounded; the corpus is not), so the window is safe where a per-column
  or per-corpus window would not be.
- ``vocab_drift`` is one side-tagged union + one ``groupBy(token)`` +
  one O(1)-row aggregate — the alignment join is free (conditional sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.operators.parallelism import (
    ensure_min_partitions,
)


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return ensure_min_partitions(df).selectExpr(
        f"`{id_col}`", f"explode(split(`{text_col}`, ' ')) AS token"
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average log-probability (natural log) and perplexity
    under the corpus's maximum-likelihood unigram model.

    ``p(t) = count(t) / total_tokens`` over the whole corpus; a document's
    score is the mean ``ln p(t)`` of its tokens (every token is in-vocab
    by construction, so no smoothing is needed). Low ``avg_logprob`` /
    high ``perplexity`` = rare-token-heavy documents.

    Plan: one explode + ``groupBy(token)`` builds the vocabulary; token
    totals ride the same aggregate (a second tiny agg + broadcast); the
    corpus tokens then shuffle-join the vocabulary on ``token`` and one
    ``groupBy(doc)`` produces the scores. No collect anywhere.
    """
    toks = _tokens(df, text_col, id_col)
    vocab = toks.groupBy("token").agg(F.expr("count(1) AS cnt"))
    total = vocab.agg(F.expr("sum(cnt) AS total"))
    scored = toks.join(vocab, "token").crossJoin(F.broadcast(total))
    return (
        scored.groupBy(id_col)
        .agg(
            F.expr("count(1) AS n_tokens"),
            F.expr("avg(ln(cnt / total)) AS avg_logprob"),
        )
        .selectExpr(
            f"`{id_col}`",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "avg_logprob",
            "exp(-avg_logprob) AS perplexity",
        )
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    ``score = tf(doc, t) · ln(N / df(t))`` with raw counts; ties break on
    the term string, so the ranking is total and engine-portable (equal
    ``(tf, df)`` pairs produce bit-identical scores in any IEEE engine).
    Output: ``(doc_id, rank, token, tf, df, tfidf)``.

    The rank window partitions by document — bounded state (one
    document's distinct terms), unlike per-corpus windows.
    """
    toks = _tokens(df, text_col, id_col)
    tf = toks.groupBy(id_col, "token").agg(F.expr("count(1) AS tf"))
    dfreq = tf.groupBy("token").agg(F.expr("count(1) AS df"))
    n_docs = df.select(id_col).distinct().agg(F.expr("count(1) AS n_docs"))
    scored = tf.join(dfreq, "token").crossJoin(F.broadcast(n_docs)).selectExpr(
        f"`{id_col}`",
        "token",
        "tf",
        "df",
        "tf * ln(n_docs / df) AS tfidf",
    )
    # rank over the 9-decimal-rounded score: mathematically-equal scores
    # from different (tf, df) pairs (e.g. 2·ln10 vs ln100) evaluate to
    # doubles that differ in the last ulp ACROSS libm implementations —
    # rounding collapses them to a tie, which the token tie-break resolves
    # identically on every platform (and in the SQL oracle)
    ranked = scored.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY `{id_col}`"
        " ORDER BY round(tfidf, 9) DESC, token ASC) AS rank",
    )
    return ranked.filter(F.col("rank") <= k).selectExpr(
        f"`{id_col}`",
        "CAST(rank AS INT) AS rank",
        "token",
        "CAST(tf AS BIGINT) AS tf",
        "CAST(df AS BIGINT) AS df",
        "tfidf",
    )


def vocab_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_threshold: float = 0.05,
) -> DataFrame:
    """Corpus-level vocabulary drift between two document snapshots.

    One row out: per-side type (distinct token) and token (occurrence)
    counts, ``new_types``/``lost_types`` (types present on exactly one
    side), ``oov_token_rate`` (fraction of CURRENT token occurrences
    whose type is absent from the reference vocabulary — the mass a
    ref-trained tokenizer/LM would see as unknown), and a drift flag.

    Plan: side-tagged union → explode → ONE ``groupBy(token)`` with
    conditional sums (the vocabulary alignment is free) → one O(1)-row
    aggregate.
    """
    tagged = df_ref.selectExpr(f"'r' AS __side", f"`{text_col}`").unionByName(
        df_curr.selectExpr(f"'c' AS __side", f"`{text_col}`")
    )
    cells = (
        ensure_min_partitions(tagged)
        .selectExpr("__side", f"explode(split(`{text_col}`, ' ')) AS token")
        .groupBy("token")
        .agg(
            F.expr("sum(CAST(__side = 'r' AS BIGINT)) AS ref_cnt"),
            F.expr("sum(CAST(__side = 'c' AS BIGINT)) AS curr_cnt"),
        )
    )
    agg = cells.agg(
        F.expr("sum(CAST(ref_cnt > 0 AS BIGINT)) AS ref_types"),
        F.expr("sum(CAST(curr_cnt > 0 AS BIGINT)) AS curr_types"),
        F.expr("sum(ref_cnt) AS ref_tokens"),
        F.expr("sum(curr_cnt) AS curr_tokens"),
        F.expr("sum(CAST(curr_cnt > 0 AND ref_cnt = 0 AS BIGINT)) AS new_types"),
        F.expr("sum(CAST(ref_cnt > 0 AND curr_cnt = 0 AS BIGINT)) AS lost_types"),
        F.expr("sum(CASE WHEN ref_cnt = 0 THEN curr_cnt ELSE 0 END) AS __oov_tokens"),
    )
    return agg.selectExpr(
        "* EXCEPT (__oov_tokens)",
        "__oov_tokens / greatest(curr_tokens, 1) AS oov_token_rate",
        f"__oov_tokens / greatest(curr_tokens, 1) > {float(oov_threshold)!r}D"
        " AS drift_detected",
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_r: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency spectrum.

    Natural corpora follow ``freq(rank) ∝ rank^(−s)`` with s ≈ 1; a slope
    far from −1 (or a poor fit) flags synthetic/templated/degenerate text
    — a corpus-level quality check the per-document gates can't see.

    ONE explode → ``groupBy(token)`` builds the spectrum; the top
    ``top_r`` types come from ``orderBy().limit()`` (TakeOrderedAndProject
    — per-partition heaps, never a global sort, so the full vocabulary is
    never ranked or collected); the OLS fit of ``log(freq) ~ log(rank)``
    is ``regr_slope``/``regr_intercept``/``regr_r2`` over those ≤ top_r
    rows. Deterministic rank ties on ``(cnt DESC, token ASC)``. Output
    (one row): ``n_types, n_tokens, fitted_types, zipf_slope,
    zipf_intercept, zipf_r2``.

    ``materialize=True`` (default) eagerly localCheckpoints the 1-row
    result so the vocabulary cache is released at call time;
    ``materialize=False`` returns the fully lazy plan (no persist, no
    checkpoint) for composition and plan inspection — the token subtree
    may then be scanned twice.
    """
    from pyspark.sql import Window

    toks = _tokens(df, text_col, id_col)
    from pyspark import StorageLevel

    # persisted: the totals and top-r consumers' subtrees differ after
    # column pruning, so exchange reuse does NOT dedupe them (verified:
    # unpersisted, the executed plan tokenizes the corpus 2x) — and the
    # cache is released below after the 1-row result is checkpointed
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    if materialize:
        counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
    totals = counts.agg(
        F.expr("count(1) AS n_types"), F.expr("sum(cnt) AS n_tokens")
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(top_r)
    # the ranked frame is ≤ top_r rows — the single-partition window is a
    # deliberate tiny-data step, not a scale risk
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("token"))),
    )
    fit = ranked.agg(
        F.expr("count(1) AS fitted_types"),
        F.expr("regr_slope(ln(cnt), ln(rank)) AS zipf_slope"),
        F.expr("regr_intercept(ln(cnt), ln(rank)) AS zipf_intercept"),
        F.expr("regr_r2(ln(cnt), ln(rank)) AS zipf_r2"),
    )
    out = totals.crossJoin(fit).selectExpr(
        "CAST(n_types AS BIGINT) AS n_types",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(fitted_types AS BIGINT) AS fitted_types",
        "zipf_slope",
        "zipf_intercept",
        "zipf_r2",
    )
    if materialize:
        # ONE row: materialize it eagerly (cutting lineage) so the
        # vocabulary cache can be released NOW instead of leaking into
        # the session
        out = out.localCheckpoint(eager=True)
        counts.unpersist(blocking=False)
    return out


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Per-document average bigram log-probability and perplexity under
    the corpus's add-k-smoothed bigram model — the sequence-aware
    fluency score that ``unigram_logprob`` cannot give (scrambled text
    has normal unigram stats but improbable transitions).

    ``p(t₂|t₁) = (count(t₁,t₂) + k) / (count(t₁·) + k·V)``, ``V`` the
    corpus vocabulary size. Documents with fewer than two tokens emit no
    row (they have no transitions).

    Plan: bigrams are built INSIDE the row (a ``transform`` over the
    token array — narrow map, no positional self-join), then one
    ``groupBy(t1, t2)`` fits the model, the corpus bigrams shuffle-join
    it on the bigram key, and one ``groupBy(doc)`` scores. The model
    tables are data-sized aggregates — nothing is collected.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([text_col, id_col])
    if k <= 0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    bi = (
        ensure_min_partitions(df)
        .selectExpr(
            # single-space split: the module's tokenization convention
            # (string_split parity with the DuckDB oracle)
            f"`{id_col}`",
            f"split(`{text_col}`, ' ') AS __t",
        )
        .where("size(__t) >= 2")
        .selectExpr(
            f"`{id_col}`",
            "explode(transform(sequence(1, size(__t) - 1),"
            " i -> named_struct('t1', element_at(__t, i),"
            " 't2', element_at(__t, i + 1)))) AS z",
        )
        .selectExpr(f"`{id_col}`", "z.t1 AS t1", "z.t2 AS t2")
    )
    from pyspark import StorageLevel

    # ONE aggregation of the bigram stream; the unigram counts and the
    # vocabulary size derive from the aggregated table (identical values,
    # no second pass over the exploded stream), and the aggregate is
    # persisted because its consumers' subtrees differ after column
    # pruning, so exchange reuse does NOT dedupe them (verified:
    # unpersisted, the executed plan re-explodes the corpus bigram stream
    # several times — fatal at scale).  The result here is O(documents)
    # rows, too big for the checkpoint-and-release pattern, so the cache
    # lives until the caller clears it (perfbench drops every cached block
    # between operations; long-lived sessions should do the same).
    bi_counts = (
        bi.groupBy("t1", "t2")
        .agg(F.expr("count(1) AS c_bi"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni_counts = bi_counts.groupBy("t1").agg(F.expr("sum(c_bi) AS c_t1"))
    vocab = (
        bi_counts.selectExpr("t1 AS tok")
        .unionByName(bi_counts.selectExpr("t2 AS tok"))
        .agg(F.expr("count(DISTINCT tok) AS v"))
    )
    scored = (
        bi.join(bi_counts, ["t1", "t2"])
        .join(uni_counts, "t1")
        .crossJoin(F.broadcast(vocab))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.expr("count(1) AS n_bigrams"),
            F.expr(
                f"avg(ln((c_bi + {float(k)!r}D) / (c_t1 + {float(k)!r}D * v)))"
                " AS avg_logprob"
            ),
        )
        .selectExpr(
            f"`{id_col}`",
            "CAST(n_bigrams AS BIGINT) AS n_bigrams",
            "avg_logprob",
            "exp(-avg_logprob) AS perplexity",
        )
    )


def unigram_state(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Additive unigram-LM state for one ingest batch: ``(token, cnt)``
    counts. Append one per batch (or via
    ``streaming.state_tables.unigram_state_sink``) and the SUM over
    appends is the full-corpus model — counts are additive, so unlike
    the dedup states there is no one-batch-per-document caveat beyond
    not double-ingesting data. O(batch vocabulary) rows per batch."""
    return _tokens(df, text_col, id_col).groupBy("token").agg(
        F.expr("CAST(count(1) AS BIGINT) AS cnt")
    )


def logprob_incremental(
    new_docs: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Score a new ingest batch under the PRIOR corpus's unigram model
    (its rolled-up :func:`unigram_state`) — the incremental quality gate:
    vet each increment against the established corpus distribution
    without re-reading the corpus (the LM sibling of
    ``dedup_incremental``; CCNet-style filtering applies a pre-trained
    LM to candidate data exactly like this).

    Unlike :func:`unigram_logprob` (self-scoring, every token in-vocab)
    new batches contain OUT-OF-VOCABULARY tokens, so the model is add-k
    smoothed: ``p(t) = (cnt(t) + k) / (total + k·(V + 1))`` with ``V``
    the state vocabulary size and OOV sharing one extra vocabulary slot
    (the ``bigram_logprob`` convention). Output per document:
    ``n_tokens, n_oov, oov_rate, avg_logprob, perplexity`` — gibberish
    scores low via rare/unseen tokens, boilerplate scores
    suspiciously high.

    Plan: the state re-aggregates to one row per token (raw appends
    fine), batch tokens LEFT-join it on ``token`` (OOV → NULL cnt → k),
    one ``groupBy(doc)`` scores; the two scalar model constants ride a
    broadcast. Nothing is collected.
    """
    if k <= 0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    from pyspark import StorageLevel

    # persisted BEFORE the guard: the guard's isEmpty, the model
    # constants, and the token join otherwise each re-instantiate the
    # whole state rollup (at bench the state is built inline from the
    # prior corpus — a full tokenize + groupBy per reference). O(vocab)
    # rows, disk-backed; dropped by the ContextCleaner with the frame.
    model = state.groupBy("token").agg(F.expr("sum(cnt) AS cnt")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # fail fast on an empty model (first ingest, or a wrong/empty state
    # path): the lazy plan would otherwise emit NULL avg_logprob for
    # every document, and a downstream gate like `avg_logprob > cutoff`
    # evaluates NULL and admits the whole batch unchecked
    if model.isEmpty():
        raise ValueError(
            "unigram state is empty — score the first batch with"
            " unigram_logprob (self-scoring) or append a batch of"
            " unigram_state first"
        )
    consts = model.agg(
        F.expr("sum(cnt) AS total"), F.expr("count(1) AS v")
    )
    toks = _tokens(new_docs, text_col, id_col)
    scored = (
        toks.join(model, "token", "left")
        .crossJoin(F.broadcast(consts))
        .selectExpr(
            f"`{id_col}`",
            "cnt IS NULL AS is_oov",
            f"ln((coalesce(cnt, 0) + {float(k)!r}D)"
            f" / (total + {float(k)!r}D * (v + 1))) AS lp",
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.expr("CAST(count(1) AS BIGINT) AS n_tokens"),
            F.expr("CAST(sum(CAST(is_oov AS INT)) AS BIGINT) AS n_oov"),
            F.expr("avg(lp) AS avg_logprob"),
        )
        .selectExpr(
            f"`{id_col}`",
            "n_tokens",
            "n_oov",
            "n_oov / n_tokens AS oov_rate",
            "avg_logprob",
            "exp(-avg_logprob) AS perplexity",
        )
    )


def token_share_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    threshold: float = 0.05,
) -> DataFrame:
    """Corpus-mix drift by TOKEN share per group (source, language,
    domain): pretraining mixes are specified in token mass, so a crawl
    whose *document* mix looks stable can still drift hard in token
    share when one source's documents get longer — the lexical sibling
    of ``similarity.cluster_balance_drift`` (topic mix) and the panel
    behind ``sampling.token_budget_sample``'s target shares.

    One side-tagged ``groupBy(group_col)`` over both snapshots
    (token counts are ``size(split(...))`` narrow maps — the corpus is
    never shuffled, only O(groups) count rows); shares come from a
    window over the O(groups) panel. NULL/blank text counts zero
    tokens; a group absent from one side reports zero docs/tokens/share
    there. The drift flag compares the 5-decimal-ROUNDED diff against
    ``threshold`` — the flag is a pure function of the numbers the panel
    shows, and agrees with ``corpus_pipeline.corpus_drift_report``'s
    re-derived flag at threshold boundaries.

    Output per group: ``group_key, ref_docs, curr_docs, ref_tokens,
    curr_tokens, ref_share, curr_share, share_abs_diff,
    drift_detected`` (``share_abs_diff > threshold``).
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([group_col, text_col])

    def tag(df: DataFrame, side: str) -> DataFrame:
        return df.selectExpr(
            f"'{side}' AS side",
            f"`{group_col}` AS group_key",
            # tokens_expr convention (trim + whitespace-RUN split) so the
            # share is token MASS, not whitespace hygiene — double spaces
            # must not inflate a source; empty/blank text counts ZERO
            f"CASE WHEN `{text_col}` IS NULL OR trim(`{text_col}`) = ''"
            " THEN 0"
            # SQL-literal escaping: the parser consumes one backslash
            # level, so the source needs \\\\ for the regex \s+
            f" ELSE size(split(trim(`{text_col}`), '\\\\s+')) END AS __tok",
        )

    counts = (
        tag(df_ref, "r")
        .unionByName(tag(df_curr, "c"))
        .groupBy("group_key")
        .agg(
            F.expr("CAST(sum(CAST(side = 'r' AS BIGINT)) AS BIGINT) AS ref_docs"),
            F.expr("CAST(sum(CAST(side = 'c' AS BIGINT)) AS BIGINT) AS curr_docs"),
            F.expr("CAST(sum(CASE WHEN side = 'r' THEN __tok ELSE 0 END)"
                   " AS BIGINT) AS ref_tokens"),
            F.expr("CAST(sum(CASE WHEN side = 'c' THEN __tok ELSE 0 END)"
                   " AS BIGINT) AS curr_tokens"),
        )
    )
    # O(groups) rows: the unpartitioned totals window is a bounded frame
    return counts.selectExpr(
        "group_key",
        "ref_docs",
        "curr_docs",
        "ref_tokens",
        "curr_tokens",
        # nullif: a side with ZERO total tokens (all-blank batch) must
        # yield NULL shares, not an ANSI divide-by-zero job failure
        "ref_tokens / nullif(sum(ref_tokens) OVER (), 0) AS ref_share",
        "curr_tokens / nullif(sum(curr_tokens) OVER (), 0) AS curr_share",
    ).selectExpr(
        "*",
        "abs(coalesce(curr_share, 0.0D) - coalesce(ref_share, 0.0D))"
        " AS share_abs_diff",
    ).selectExpr(
        "*",
        f"round(share_abs_diff, 5) > {float(threshold)!r}D"
        " AS drift_detected",
    )


def token_share_state(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Additive mix state for one ingest batch: per group, document and
    token counts (``group_key, n_docs, n_tokens`` — the
    :func:`token_share_drift` tokenization: trim + whitespace-run split,
    NULL/blank = 0). Append one per batch (or via
    ``streaming.state_tables.token_share_state_sink``); counts are
    additive, so the SUM over appends is the corpus-so-far mix.
    O(groups) rows per batch."""
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([group_col, text_col])
    return (
        df.selectExpr(
            f"`{group_col}` AS group_key",
            f"CASE WHEN `{text_col}` IS NULL OR trim(`{text_col}`) = ''"
            " THEN 0"
            f" ELSE size(split(trim(`{text_col}`), '\\\\s+')) END AS __tok",
        )
        .groupBy("group_key")
        .agg(
            F.expr("CAST(count(1) AS BIGINT) AS n_docs"),
            F.expr("CAST(sum(__tok) AS BIGINT) AS n_tokens"),
        )
    )


def token_share_incremental(
    new_docs: DataFrame,
    state: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    threshold: float = 0.05,
) -> DataFrame:
    """Does THIS ingest batch's token mix match the corpus-so-far mix?
    The mix tripwire for continuous ingestion (a crawler source going
    down or a filter change rotates the batch mix immediately, long
    before the cumulative corpus mix moves): batch shares compare
    against the rolled-up :func:`token_share_state` — the corpus itself
    is never re-read (the mix member of the vet-the-increment family:
    ``dedup/neardup/passage_dedup/logprob _incremental``).

    Same panel as :func:`token_share_drift` with the state as the
    reference side: ``group_key, ref_docs, curr_docs, ref_tokens,
    curr_tokens, ref_share, curr_share, share_abs_diff,
    drift_detected`` (flag on the 5-decimal-rounded diff). Raises on an
    empty state (a first batch has no mix to drift FROM).
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([group_col, text_col])
    # persisted BEFORE the guard (the logprob_incremental convention):
    # isEmpty and the join below otherwise each re-instantiate the state
    # rollup. O(groups) rows.
    prior = state.groupBy("group_key").agg(
        F.expr("CAST(sum(n_docs) AS BIGINT) AS ref_docs"),
        F.expr("CAST(sum(n_tokens) AS BIGINT) AS ref_tokens"),
    ).persist()
    if prior.isEmpty():
        raise ValueError(
            "token-share state is empty — append at least one batch of"
            " token_share_state before vetting an increment against it"
        )
    batch = token_share_state(new_docs, group_col, text_col).selectExpr(
        "group_key",
        "n_docs AS curr_docs",
        "n_tokens AS curr_tokens",
    )
    # eqNullSafe: a NULL group (nullable source column) is a real
    # population on BOTH sides — a plain equi-join would split it into
    # two half-rows, each seeing the other side as zero, and fire a
    # spurious drift flag (the batch-mode sibling's single groupBy
    # collapses NULLs into one row; this join must match it).
    counts = (
        prior.join(
            batch, prior["group_key"].eqNullSafe(batch["group_key"]), "full_outer"
        )
        .select(
            F.coalesce(prior["group_key"], batch["group_key"]).alias("group_key"),
            F.expr("coalesce(ref_docs, 0L)").alias("ref_docs"),
            F.expr("coalesce(curr_docs, 0L)").alias("curr_docs"),
            F.expr("coalesce(ref_tokens, 0L)").alias("ref_tokens"),
            F.expr("coalesce(curr_tokens, 0L)").alias("curr_tokens"),
        )
    )
    # O(groups) rows: the unpartitioned totals window is a bounded frame
    return counts.selectExpr(
        "*",
        # nullif: a side with ZERO total tokens (all-blank batch) must
        # yield NULL shares, not an ANSI divide-by-zero job failure
        "ref_tokens / nullif(sum(ref_tokens) OVER (), 0) AS ref_share",
        "curr_tokens / nullif(sum(curr_tokens) OVER (), 0) AS curr_share",
    ).selectExpr(
        "*",
        "abs(coalesce(curr_share, 0.0D) - coalesce(ref_share, 0.0D))"
        " AS share_abs_diff",
    ).selectExpr(
        "*",
        f"round(share_abs_diff, 5) > {float(threshold)!r}D"
        " AS drift_detected",
    )


def fit_bpe(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    min_pair_count: int = 2,
    fit_mode: str = "dataframe",
    max_vocab_rows: int = 5_000_000,
) -> DataFrame:
    """TRAIN a byte-pair-encoding merge table over the corpus (Sennrich
    et al. 2016) — the tokenizer-fitting step of a training-data
    pipeline, joining the trainer family (``fit_kmeans``,
    ``fit_quality_classifier``): each iteration finds the most frequent
    adjacent symbol pair across the vocabulary and fuses it into a new
    symbol.

    Output: the learned merge table — one row per merge with
    ``merge_rank, pair_left, pair_right, merged, pair_count`` (the
    pair's corpus frequency at the time it was chosen). Ties break by
    ``(count DESC, left ASC, right ASC)``; training stops early when
    the best pair's count falls below ``min_pair_count``. All values
    are strings/ints — the fit is float-free, hence exactly replayable
    by any SQL engine.

    Merge application is CANONICAL greedy (one left-to-right sweep,
    matches never overlap), expressed as an ``aggregate`` fold over the
    symbol array: the accumulator's last element merges with the
    incoming symbol iff they equal the chosen pair. A fused symbol can
    never re-merge within the same sweep (it would have to equal its
    own left half), so the fold IS the canonical sweep — unlike
    string-level ``replace``, whose rescan semantics differ between
    engines on chained matches.

    Scale shape: ONE corpus-wide shuffle (the word count) reduces 100 TB
    of text to the distinct-word table (Heaps' law: ~millions of rows).
    Two fit modes over that table:

    - ``fit_mode="dataframe"`` (the oracle path, default): every
      iteration is a narrow map + one O(vocab) pair aggregate, with
      exactly one 1-row ``limit(1).collect()`` per merge. The word
      table is cached once and unpersisted on exit; lineage grows by
      one fold per merge — fine for oracle-scale ``n_merges``, but a
      32k-merge production fit would be 32k tiny Spark jobs on an
      ever-deeper plan.
    - ``fit_mode="driver"`` (the scale path, the trainer twin of
      ``bpe_segment``'s ``apply_mode="arrow"``): collect the word
      table ONCE (capped at ``max_vocab_rows`` rows by
      ``(count DESC, word ASC)`` — Heaps' law keeps real vocabularies
      in the low millions) and run the classic heap-based pair-count
      trainer driver-side: incremental pair-delta updates touch only
      the words containing the merged pair, a lazy-deletion heap pops
      the next best pair in O(log pairs) — zero Spark jobs after the
      one collect. When the vocabulary FITS ``max_vocab_rows`` the
      output is merge-for-merge IDENTICAL to the DataFrame path
      (integer-exact counts, same ``(count DESC, left ASC, right ASC)``
      tie-break; UTF-8 byte order equals code-point order, so Spark
      and Python string comparisons agree). When it does NOT fit, the
      dropped tail words still contribute mass to pair counts shared
      with surviving words, so merges/counts MAY diverge from the
      DataFrame path — the trainer detects the truncation (it collects
      one sentinel row past the cap) and emits a ``UserWarning``
      naming the cap; raise ``max_vocab_rows`` or accept the
      tail-truncated fit.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import qs

    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    if min_pair_count < 1:
        raise ValueError(
            f"min_pair_count must be >= 1, got {min_pair_count}"
        )
    if fit_mode not in ("dataframe", "driver"):
        raise ValueError(
            f"fit_mode must be 'dataframe' or 'driver', got {fit_mode!r}"
        )
    spark = df.sparkSession
    word_counts = (
        ensure_min_partitions(df)
        .selectExpr(f"explode(split(trim(`{text_col}`), '\\\\s+')) AS word")
        .filter("word <> ''")
        .groupBy("word")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS wc"))
    )
    if fit_mode == "driver":
        # one sentinel row past the cap: its presence proves truncation
        # (a capped collect alone cannot distinguish "exactly at the cap"
        # from "silently dropped tail mass")
        rows = (
            word_counts.orderBy(F.col("wc").desc(), F.col("word").asc())
            .limit(int(max_vocab_rows) + 1)
            .collect()
        )
        if len(rows) > int(max_vocab_rows):
            import warnings

            warnings.warn(
                f"fit_bpe(fit_mode='driver'): vocabulary exceeds"
                f" max_vocab_rows={int(max_vocab_rows)}; the dropped tail"
                " words still contribute pair mass shared with surviving"
                " words, so merges/counts may diverge from the DataFrame"
                " path — raise max_vocab_rows for an exact fit",
                UserWarning,
                stacklevel=2,
            )
            rows = rows[: int(max_vocab_rows)]
        merges = _bpe_train_driver(
            [(list(r["word"]), int(r["wc"])) for r in rows],
            int(n_merges),
            int(min_pair_count),
        )
        return spark.createDataFrame(
            merges,
            "merge_rank long, pair_left string, pair_right string,"
            " merged string, pair_count long",
        )
    words = word_counts.selectExpr(
        "filter(split(word, ''), ch -> ch <> '') AS sym", "wc"
    ).cache()
    merges: list[tuple[int, str, str, str, int]] = []
    cur = words
    try:
        for rank in range(1, int(n_merges) + 1):
            best = (
                cur.selectExpr(
                    "wc",
                    "explode(arrays_zip(slice(sym, 1, size(sym) - 1),"
                    " slice(sym, 2, size(sym) - 1))) AS pr",
                )
                .selectExpr("pr.`0` AS l", "pr.`1` AS r", "wc")
                .groupBy("l", "r")
                .agg(F.expr("CAST(sum(wc) AS BIGINT) AS c"))
                .orderBy(
                    F.col("c").desc(), F.col("l").asc(), F.col("r").asc()
                )
                .limit(1)
                .collect()
            )
            if not best or int(best[0]["c"]) < int(min_pair_count):
                break
            l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
            merges.append((rank, l, r, l + r, c))
            cur = cur.withColumn("sym", F.expr(_bpe_merge_expr("sym", l, r)))
    finally:
        words.unpersist()
    return spark.createDataFrame(
        merges,
        "merge_rank long, pair_left string, pair_right string,"
        " merged string, pair_count long",
    )


def _bpe_merge_expr(sym_col: str, left: str, right: str) -> str:
    """Canonical one-sweep greedy application of one BPE merge as an
    ``aggregate`` fold (see :func:`fit_bpe` for why this beats string
    ``replace``)."""
    from pyspark_data_drift_detector_spark.functions.quoting import qs

    return (
        f"aggregate({sym_col}, CAST(array() AS array<string>),"
        " (acc, x) -> CASE WHEN size(acc) > 0"
        f" AND element_at(acc, -1) = {qs(left)} AND x = {qs(right)}"
        " THEN concat(slice(acc, 1, size(acc) - 1),"
        f" array({qs(left + right)}))"
        " ELSE concat(acc, array(x)) END)"
    )


def _bpe_train_driver(
    words: list[tuple[list[str], int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[int, str, str, str, int]]:
    """Classic heap-based BPE trainer over the collected distinct-word
    count table — the driver-side scale path of :func:`fit_bpe`
    (``fit_mode="driver"``), pure Python, ZERO Spark jobs.

    Exactly replays the DataFrame path merge for merge: integer pair
    counts summed over word frequencies, best pair by ``(count DESC,
    left ASC, right ASC)`` (the heap orders ``(-count, left, right)``
    tuples, which is the same total order), early stop when the best
    count falls below ``min_pair_count``, and each chosen merge applied
    with the same canonical one-sweep greedy scan as
    :func:`_bpe_merge_expr`'s fold (a fused symbol never re-merges
    within its own sweep).

    Cost per merge: O(words containing the pair) for the delta updates
    plus O(log pairs) heap traffic — the per-merge Spark-job loop and
    its ever-deepening lineage are gone, so 32k-merge production fits
    are a driver-side loop over a Heaps-law-bounded table. The heap is
    lazy-deletion: entries go stale when a pair's count changes and are
    dropped (or re-keyed) on pop by comparing against the live count.
    """
    import heapq
    from collections import Counter, defaultdict

    syms = [list(s) for s, _ in words]
    wcs = [int(c) for _, c in words]
    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    occ: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, s in enumerate(syms):
        for p in zip(s, s[1:]):
            pair_counts[p] += wcs[wi]
            occ[p].add(wi)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, str, int]] = []
    rank = 0
    while rank < n_merges and heap:
        negc, l, r = heapq.heappop(heap)
        c = pair_counts.get((l, r), 0)
        if -negc != c:  # stale: count changed since push
            if c > 0:
                heapq.heappush(heap, (-c, l, r))
            continue
        if c < min_pair_count:
            break
        rank += 1
        merges.append((rank, l, r, l + r, c))
        fused = l + r
        for wi in sorted(occ[(l, r)]):
            s = syms[wi]
            w = wcs[wi]
            old_pairs = Counter(zip(s, s[1:]))
            out: list[str] = []
            i, n = 0, len(s)
            while i < n:  # canonical one-sweep greedy scan
                if i + 1 < n and s[i] == l and s[i + 1] == r:
                    out.append(fused)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[wi] = out
            new_pairs = Counter(zip(out, out[1:]))
            for p in old_pairs.keys() | new_pairs.keys():
                d = new_pairs[p] - old_pairs[p]
                if d:
                    pair_counts[p] += d * w
                    if pair_counts[p] <= 0:
                        pair_counts.pop(p, None)
                    else:
                        heapq.heappush(
                            heap, (-pair_counts[p], p[0], p[1])
                        )
                if p in old_pairs and p not in new_pairs:
                    occ[p].discard(wi)
                elif p in new_pairs and p not in old_pairs:
                    occ[p].add(wi)
        pair_counts.pop((l, r), None)
        occ.pop((l, r), None)
    return merges


def _apply_bpe_merges_py(
    sym: list[str],
    merges: list[tuple[str, str]],
    pair_ranks: dict[tuple[str, str], tuple[int, ...]],
) -> list[str]:
    """Pure-Python replay of the rank-order fold chain (see
    :func:`_bpe_merge_expr`): apply every merge in rank order, one
    canonical left-to-right sweep each, EXACTLY matching the
    expression-fold semantics.

    Speed comes from never sweeping inapplicable merges: instead of
    iterating all ``n_merges`` ranks, each round finds the
    minimum-rank pair currently adjacent in the word that is >= the
    monotone pointer (a merge's sweep happens at most once, like the
    fold chain), sweeps it, and advances the pointer. Per-word cost is
    O(len(word)^2) independent of the merge-table size — a 32k-merge
    production vocabulary costs the same per word as an 8-merge one.
    ``pair_ranks`` maps each pair to its ascending rank tuple (a pair
    can recur at a later rank if earlier merges re-create adjacency).
    """
    from bisect import bisect_left

    ptr = 0
    while len(sym) > 1:
        best = None
        for a, b in zip(sym, sym[1:]):
            ranks = pair_ranks.get((a, b))
            if ranks is None:
                continue
            i = bisect_left(ranks, ptr)
            if i < len(ranks) and (best is None or ranks[i] < best):
                best = ranks[i]
        if best is None:
            break
        left, right = merges[best]
        out: list[str] = []
        for x in sym:
            if out and out[-1] == left and x == right:
                out[-1] = left + right
            else:
                out.append(x)
        sym = out
        ptr = best + 1
    return sym


def _bpe_vocab_arrow(toks: DataFrame, merges: list[tuple[str, str]]):
    """Segment each DISTINCT word with the full merge list in one
    Arrow-batched ``mapInPandas`` pass (the ``image_decode`` codec
    pattern, ``operators/multimodal.py:344``) — the scale path for
    tokenizer-real merge tables (32k-100k merges), where the
    expression-fold chain would be a 32k-deep codegen tree.

    Input: the exploded token frame; output: ``word, __n_chars,
    __n_bpe`` for every distinct word. The merge list rides to
    executors inside the closure (O(n_merges) strings — a 32k-merge
    table is ~1 MB, far below broadcast-worry size). Characters are
    Python code points, matching Spark's ``split(word, '')`` for all
    BMP text (supplementary-plane text would need the fold path).
    """
    pair_ranks: dict[tuple[str, str], list[int]] = {}
    for rank, pair in enumerate(merges):
        pair_ranks.setdefault(pair, []).append(rank)
    frozen = {p: tuple(r) for p, r in pair_ranks.items()}

    def _segment(batches):
        import pandas as pd

        for pdf in batches:
            words = pdf["word"].tolist()
            n_bpe = [
                len(_apply_bpe_merges_py(list(w), merges, frozen))
                for w in words
            ]
            yield pd.DataFrame(
                {
                    "word": words,
                    "__n_chars": [len(w) for w in words],
                    "__n_bpe": n_bpe,
                }
            )

    return toks.select("word").distinct().mapInPandas(
        _segment, schema="word string, __n_chars long, __n_bpe long"
    )


def bpe_segment(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    apply_mode: str = "fold",
) -> DataFrame:
    """APPLY a learned BPE merge table (:func:`fit_bpe` output, or a
    plain ``[(left, right), ...]`` list in rank order) to the corpus —
    the trainer's apply half, like ``quality_classifier`` is to
    ``fit_quality_classifier``. Per document: whitespace token count,
    character count over those tokens, the BPE token count after
    applying every merge in rank order, and the resulting compression
    ratio (chars per BPE token — the fertility metric a tokenizer
    ablation tracks).

    Scale shape: each DISTINCT word is segmented once — on the
    vocabulary table (one shuffle), which then joins back to the
    exploded tokens (AQE broadcasts it while it fits, and a vocabulary
    too big to broadcast shuffle-joins on the same key the vocab
    aggregate just produced). Documents with NULL/empty text have no
    tokens and are absent from the output.

    ``apply_mode`` picks the segmentation engine:

    - ``"fold"`` (default, the oracle path): one ``aggregate``-fold
      expression per merge, chained. Whole-stage-codegen'd and
      SQL-replayable, but the plan depth grows with the merge count —
      fine for ablation-size tables, NOT for a 32k-merge production
      tokenizer (analyzer/codegen blowup long before data size
      matters).
    - ``"arrow"``: one Arrow-batched ``mapInPandas`` pass applies the
      ENTIRE merge list per distinct word (:func:`_bpe_vocab_arrow`) —
      constant plan size regardless of merge count; bit-identical
      output to the fold path (pinned in
      ``tests/test_new_pipeline_ops.py``). Use this past ~100 merges.
    """
    if apply_mode not in ("fold", "arrow"):
        raise ValueError(
            f"apply_mode must be 'fold' or 'arrow', got {apply_mode!r}"
        )
    if isinstance(merges, DataFrame):
        merges = [
            (r["pair_left"], r["pair_right"])
            for r in merges.orderBy("merge_rank").collect()  # O(n_merges)
        ]
    if not merges:
        raise ValueError("merges must be non-empty")
    toks = ensure_min_partitions(df).selectExpr(
        f"`{id_col}`",
        f"explode(split(trim(`{text_col}`), '\\\\s+')) AS word",
    ).filter("word <> ''")
    if apply_mode == "arrow":
        vocab = _bpe_vocab_arrow(toks, [tuple(m) for m in merges])
    else:
        vocab = toks.select("word").distinct().selectExpr(
            "word", "filter(split(word, ''), ch -> ch <> '') AS sym"
        )
        for left, right in merges:
            vocab = vocab.withColumn(
                "sym", F.expr(_bpe_merge_expr("sym", left, right))
            )
        vocab = vocab.selectExpr(
            "word",
            "CAST(length(word) AS BIGINT) AS __n_chars",
            "CAST(size(sym) AS BIGINT) AS __n_bpe",
        )
    return (
        toks.join(vocab, "word")
        .groupBy(id_col)
        .agg(
            F.expr("CAST(count(1) AS BIGINT) AS n_tokens"),
            F.expr("CAST(sum(__n_chars) AS BIGINT) AS n_chars"),
            F.expr("CAST(sum(__n_bpe) AS BIGINT) AS n_bpe_tokens"),
        )
        .selectExpr(
            f"`{id_col}`",
            "n_tokens",
            "n_chars",
            "n_bpe_tokens",
            "CAST(n_chars AS DOUBLE) / n_bpe_tokens AS compression",
        )
    )


def bpe_vocab(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str]],
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """The learned tokenizer's VOCABULARY: apply a BPE merge table
    (:func:`fit_bpe` output or a rank-ordered pair list) to the corpus
    and count every resulting symbol's corpus frequency — the
    sanity-check artifact a tokenizer ablation reads ("did the merges
    produce morpheme-like units, and what covers the head of the
    distribution?").

    Output: the ``top_k`` symbols by ``token_count`` (ties broken by
    symbol, ascending) with ``token_count`` (total occurrences across
    the corpus, weighted by word frequency), ``n_words`` (distinct
    words containing the symbol), ``is_merged`` (longer than one
    character). Top-k is a heap (``TakeOrderedAndProject``), never a
    global sort.

    Scale shape mirrors :func:`bpe_segment`: ONE corpus shuffle (word
    counts), folds over the O(vocab) word table, one O(symbols)
    aggregate.
    """
    if isinstance(merges, DataFrame):
        merges = [
            (r["pair_left"], r["pair_right"])
            for r in merges.orderBy("merge_rank").collect()  # O(n_merges)
        ]
    if not merges:
        raise ValueError("merges must be non-empty")
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    words = (
        ensure_min_partitions(df)
        .selectExpr(f"explode(split(trim(`{text_col}`), '\\\\s+')) AS word")
        .filter("word <> ''")
        .groupBy("word")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS wc"))
        .selectExpr(
            "word", "filter(split(word, ''), ch -> ch <> '') AS sym", "wc"
        )
    )
    for left, right in merges:
        words = words.withColumn(
            "sym", F.expr(_bpe_merge_expr("sym", left, right))
        )
    return (
        words.selectExpr("word", "explode(sym) AS symbol", "wc")
        .groupBy("symbol")
        .agg(
            F.expr("CAST(sum(wc) AS BIGINT) AS token_count"),
            F.expr("CAST(count(DISTINCT word) AS BIGINT) AS n_words"),
        )
        .selectExpr(
            "symbol",
            "token_count",
            "n_words",
            "length(symbol) > 1 AS is_merged",
        )
        .orderBy(F.col("token_count").desc(), F.col("symbol").asc())
        .limit(int(top_k))
    )


def group_keywords(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms PER GROUP by class-based TF-IDF
    (c-TF-IDF, the BERTopic topic-labeling formula, Grootendorst 2022:
    treat each group — a source, language, or cluster assignment — as
    one super-document):

        score(t, g) = (tf(g,t) / class_total(g))
                      · ln(1 + avg_class_total / global_tf(t))

    Plain per-group IDF zeroes out whenever the vocabulary is shared by
    every group (ln(G/G) = 0 — exactly the failure mode on a
    homogeneous corpus); the c-TF-IDF smoothing keeps the ranking
    informative there, favoring tokens that are frequent IN the group
    relative to their corpus-wide rate. Rank ties break on the
    9-decimal-rounded score then the token string (the tfidf_keywords
    convention). NULL groups form one real group.

    Plan: ONE corpus-scale explode + groupBy(group, token) builds the
    tf table (persisted — it feeds the class-total, global-frequency,
    and scoring passes, and Spark re-instantiates a CTE per reference);
    everything after is O(groups × vocab), with the rank window
    partitioned by group (vocabulary-bounded state). The O(k · groups)
    result is eagerly checkpointed and the cache released. Output:
    ``(group_key, rank, token, tf, group_share, score)``.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([group_col, text_col])
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    tf = (
        ensure_min_partitions(df)
        .selectExpr(
            f"`{group_col}` AS group_key",
            f"explode(split(`{text_col}`, ' ')) AS token",
        )
        .groupBy("group_key", "token")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS tf"))
        .persist()
    )
    query = f"""
    WITH tf AS (SELECT * FROM {{src}}),
    ct AS (SELECT group_key, CAST(sum(tf) AS BIGINT) AS class_total
           FROM tf GROUP BY group_key),
    gt AS (SELECT token, CAST(sum(tf) AS BIGINT) AS global_tf
           FROM tf GROUP BY token),
    tot AS (SELECT CAST(sum(class_total) AS BIGINT) AS total_tokens,
              CAST(count(1) AS BIGINT) AS n_groups
            FROM ct),
    s AS (
      SELECT t.group_key, t.token, t.tf,
        t.tf / CAST(c.class_total AS DOUBLE) AS group_share,
        (t.tf / CAST(c.class_total AS DOUBLE))
          * ln(1.0D + (tot.total_tokens / CAST(tot.n_groups AS DOUBLE))
                      / gt.global_tf) AS score
      FROM tf t
      JOIN ct c ON t.group_key <=> c.group_key
      JOIN gt ON t.token = gt.token
      CROSS JOIN tot),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY group_key
        ORDER BY round(score, 9) DESC, token ASC) AS rank
      FROM s)
    SELECT group_key, CAST(rank AS INT) AS rank, token, tf,
      group_share, score
    FROM r WHERE rank <= {int(k)}"""
    out = df.sparkSession.sql(query, src=tf).localCheckpoint(eager=True)
    tf.unpersist(blocking=False)
    return out
