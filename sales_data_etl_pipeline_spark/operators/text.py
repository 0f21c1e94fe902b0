"""Text-analysis operators over a document corpus (extension layer).

The reference has no text operators; these are the training-data-pipeline
extensions (BASELINE.json north star) over the ``documents`` table
(``doc_id, text, lang, source, n_chars``).

Everything here is JVM-side SQL expressions — higher-order array
functions (``transform``/``filter``/``aggregate``), not Python UDFs — so
the hot path stays inside whole-stage codegen and scales linearly with
executors. At 100 TB the per-doc work is embarrassingly parallel: no
shuffles at all except where an operator aggregates corpus statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import ckpt

#: Tokenization convention shared with the DuckDB oracles: lowercase,
#: split on non-alphanumeric runs, drop empties.
TOKENIZE = "filter(split(lower({col}), '[^a-z0-9]+'), x -> x != '')"


def tokens(col: str = "text") -> Column:
    return F.expr(TOKENIZE.format(col=col))


#: Tiny per-language stopword sets for the n-gram/stopword language-ID
#: heuristic. Deliberately small and embedded: the operator is a
#: deterministic heuristic, not a model.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "pt": ["o", "a", "de", "e", "que", "em", "um", "para", "com", "nao"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "para", "con", "los"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "pour", "les", "des"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "mit", "von", "den"],
}


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: total, unique, mean token length, whitespace-word
    count (the "BPE-ish regex + whitespace" pair of counters)."""
    t = tokens(text_col)
    return df.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
        F.size(F.expr(f"filter(split({text_col}, '\\\\s+'), x -> x != '')")).alias(
            "n_ws_words"
        ),
        # try_divide: a token-less doc (empty/punctuation-only) must
        # yield NULL like the oracle's x/0, not an ANSI-mode error
        F.round(
            F.try_divide(
                F.expr(
                    f"aggregate(transform({TOKENIZE.format(col=text_col)},"
                    " x -> length(x)), 0L, (acc, x) -> acc + x)"
                ),
                F.size(t),
            ),
            4,
        ).alias("mean_token_len"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID.

    Score per language = |distinct tokens ∩ stopwords(lang)|; the argmax
    wins, ties broken by language code order, zero overlap → 'und'
    (undetermined). Deterministic by construction.
    """
    t = F.array_distinct(tokens(text_col))
    scores = {
        lang: F.size(
            F.array_intersect(t, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in sorted(STOPWORDS.items())
    }
    best = None
    for lang, score in scores.items():  # alphabetical → deterministic ties
        best = score if best is None else F.greatest(best, score)
    pred = F.lit("und")
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    out = df.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(STOPWORDS)],
        pred.alias("lang_pred"),
    )
    return out


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document quality heuristics: length, punctuation ratio, stopword
    ratio, mean word length → composite score in [0, 1].

    Mirrors the shape of public quality filters (C4/Gopher-style rules):
    too-short docs, symbol-heavy docs, and stopword-free docs score low.
    """
    t = tokens(text_col)
    n_chars = F.length(text_col)
    n_tokens = F.size(t)
    alnum = F.length(F.regexp_replace(text_col, "[^a-zA-Z0-9 ]", ""))
    # try_divide: empty text (n_chars=0) and token-less docs must yield
    # NULL ratios like the oracle's x/0, not an ANSI-mode error; the
    # NULL then propagates into the composite in both engines alike
    punct_ratio = F.round(F.try_divide(n_chars - alnum, n_chars), 6)
    stop_ratio = F.round(
        F.try_divide(
            F.size(
                F.expr(
                    f"filter({TOKENIZE.format(col=text_col)},"
                    " x -> x IN ('the','a','of','and','to','in','is','it','that','for'))"
                )
            ),
            n_tokens,
        ),
        6,
    )
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    # floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): pure IEEE arithmetic,
    # so the DuckDB oracle gets the bit-identical value even when x lands
    # exactly on a .5 rounding boundary (observed once per ~500 docs).
    raw = 0.4 * len_score + 0.3 * (1 - punct_ratio) + 0.3 * F.least(
        stop_ratio * 5, F.lit(1.0)
    )
    composite = F.floor(raw * 1000000 + 0.5) / 1000000
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_obs"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        composite.alias("quality"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", *, ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Gopher-style repetition quality signals per document: for each
    n in ``ns``, the total n-gram count, the fraction of occurrences
    claimed by the single most frequent n-gram (``top_{n}gram_frac``)
    and the fraction of occurrences that are repeats of an earlier
    occurrence (``dup_{n}gram_frac`` = (total - distinct) / total).

    High values flag boilerplate/spam documents (the published Gopher
    rules cut at e.g. top-2-gram > 0.20). Everything is per-row array
    arithmetic — the most-frequent-gram count comes from a run-length
    fold over the *sorted* gram array, so the operator needs ZERO
    shuffles and scales linearly; the explode→groupBy formulation (the
    DuckDB oracle) would shuffle every n-gram occurrence.

    Fractions use the ``floor(x*1e6 + 0.5)/1e6`` IEEE composite (module
    convention) and are NULL when a doc has no n-grams.
    """
    # coalesce: NULL text has ZERO n-grams (bigint counts stay
    # non-NULL; fracs are NULL via nullif) — matches the oracle's
    # range-over-NULL-list behavior
    out = df.select(
        "doc_id",
        F.coalesce(tokens(text_col), F.expr("array()")).alias("_t"),
    )
    names: list[str] = ["doc_id"]
    for n in ns:
        gram = ", ".join(f"element_at(_t, i + {j})" if j else "element_at(_t, i)" for j in range(n))
        out = out.withColumn(
            f"_g{n}",
            F.expr(
                f"CASE WHEN size(_t) < {n} THEN array() "
                f"ELSE transform(sequence(1, size(_t) - {n - 1}),"
                f" i -> concat_ws(' ', {gram})) END"
            ),
        )
        best = F.expr(
            f"aggregate(array_sort(_g{n}),"
            " named_struct('prev', '', 'run', 0L, 'best', 0L),"
            " (acc, x) -> named_struct("
            "   'prev', x,"
            "   'run', IF(x = acc.prev, acc.run + 1L, 1L),"
            "   'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))),"
            " acc -> acc.best)"
        )
        total = F.expr(f"cast(size(_g{n}) as bigint)")
        dist = F.expr(f"cast(size(array_distinct(_g{n})) as bigint)")
        denom = F.nullif(total, F.lit(0))
        out = (
            out.withColumn(f"n_{n}grams", total)
            .withColumn(
                f"top_{n}gram_frac",
                F.floor(best / denom * 1000000 + 0.5) / 1000000,
            )
            .withColumn(
                f"dup_{n}gram_frac",
                F.floor((total - dist) / denom * 1000000 + 0.5) / 1000000,
            )
        )
        names += [f"n_{n}grams", f"top_{n}gram_frac", f"dup_{n}gram_frac"]
    return out.select(*names)


def repetition_stats_sql(
    docs_rel: str = "documents", text_col: str = "text", *, ns: tuple[int, ...] = (2, 3)
) -> str:
    """DuckDB oracle twin of :func:`repetition_stats` (explode→groupBy
    formulation; fine for an oracle, the wrong plan at scale)."""
    toks = (
        "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    ).format(col=text_col)
    ctes, sel = [], ["t.doc_id"]
    for n in ns:
        gram = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
        ctes.append(
            f"""g{n} AS (
                SELECT doc_id,
                       UNNEST(list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1),
                                             i -> {gram})) AS gram
                FROM t),
            c{n} AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g{n} GROUP BY doc_id, gram),
            s{n} AS (SELECT doc_id,
                            CAST(SUM(cnt) AS BIGINT) AS total,
                            CAST(MAX(cnt) AS BIGINT) AS best,
                            CAST(COUNT(*) AS BIGINT) AS dist
                     FROM c{n} GROUP BY doc_id)"""
        )
        sel += [
            f"COALESCE(s{n}.total, 0) AS n_{n}grams",
            f"floor(s{n}.best / s{n}.total * 1000000 + 0.5) / 1000000"
            f" AS top_{n}gram_frac",
            f"floor((s{n}.total - s{n}.dist) / s{n}.total * 1000000 + 0.5) / 1000000"
            f" AS dup_{n}gram_frac",
        ]
    joins = " ".join(f"LEFT JOIN s{n} ON t.doc_id = s{n}.doc_id" for n in ns)
    return (
        f"WITH t AS (SELECT doc_id, {toks} AS toks FROM {docs_rel}), "
        + ", ".join(ctes)
        + f" SELECT {', '.join(sel)} FROM t {joins}"
    )


def fingerprint(df: DataFrame, text_col: str = "text", *, kgram: int = 32) -> DataFrame:
    """Document fingerprinting: whole-text MD5 plus a winnowing-style
    min-hash over character k-grams (the minimum MD5 of all ``kgram``-char
    windows — a rolling-hash fingerprint robust to suffix edits).

    MD5 is used (rather than xxhash64) because it is bit-identical across
    engines — the DuckDB oracle computes the same fingerprints. At scale
    swap in xxhash64 (cheaper, same plan shape).
    """
    min_kgram = F.expr(
        f"array_min(transform(sequence(1, greatest(length({text_col}) - {kgram - 1}, 1)),"
        f" i -> md5(substring({text_col}, i, {kgram}))))"
    )
    return df.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("md5_full"),
        min_kgram.alias("min_kgram_md5"),
    )


def term_frequencies(df: DataFrame, text_col: str = "text", *, top: int = 100) -> DataFrame:
    """Corpus-level term statistics: term frequency + document frequency
    for the ``top`` most frequent terms (count desc, term asc).

    The explode→groupBy shape is the corpus half of TF-IDF; document
    frequency comes from per-doc distinct tokens. One shuffle on term.
    """
    toks = df.select(
        "doc_id", F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("term")
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(top)
    )


def tf_idf_top_terms(
    df: DataFrame, text_col: str = "text", *, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (idf = ln((N+1)/(df+1)), smoothed; ties → term asc).

    Per-doc term counts join a broadcast document-frequency table —
    the fact side never shuffles on anything but the final window key.
    """
    toks = df.select(
        "doc_id", F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.count()
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    from pyspark.sql import Window

    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 6
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram language-model scoring: per-doc total and mean
    surprisal in bits under the corpus's own MLE unigram model
    (p(term) = corpus_tf / total_tokens) — the cheap LM-quality signal
    used to rank documents before an expensive perplexity model.

    Determinism across engines: per-term surprisal is quantized to an
    integer (``floor(-log2(p)*1e6 + 0.5)``) BEFORE the per-doc sum, so
    the aggregation is integer arithmetic — immune to float summation
    order, which differs between Spark's partial aggs and the oracle.

    Shape: explode → per-doc and corpus term counts (one shuffle each,
    map-side combined) → per-term surprisal broadcast back (vocab ≪
    corpus; use a shuffle join instead if vocab outgrows broadcast) →
    per-doc integer sum. Docs with zero tokens drop out (both engines).
    """
    toks = df.select(
        "doc_id", F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    ctf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    # total tokens = sum over the (tiny) term table, NOT a count() on the
    # exploded corpus — that separate action would be a second full scan
    # of every document at 100 TB; this is a 1-row broadcast instead
    totals = ctf.agg(F.sum("ctf").alias("_total"))
    lp = ctf.crossJoin(F.broadcast(totals)).select(
        "term",
        F.expr(
            "cast(floor(-log2(ctf / cast(_total as double)) * 1000000 + 0.5)"
            " as bigint)"
        ).alias("lq"),
    )
    return (
        tf.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lq")).alias("logprob_q6"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logprob_q6",
            F.expr("logprob_q6 div n_tokens").alias("mean_bits_q6"),
        )
    )


def unigram_logprob_sql(docs_rel: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle twin of :func:`unigram_logprob`."""
    toks = (
        "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    ).format(col=text_col)
    return f"""
        WITH toks AS (SELECT doc_id, UNNEST({toks}) AS term FROM {docs_rel}),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        ctf AS (SELECT term, COUNT(*) AS ctf FROM toks GROUP BY 1),
        tot AS (SELECT COUNT(*) AS total FROM toks),
        lp AS (SELECT term,
                      CAST(floor(-log2(ctf / CAST(total AS DOUBLE)) * 1000000 + 0.5)
                           AS BIGINT) AS lq
               FROM ctf, tot)
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf.tf * lp.lq) AS BIGINT) AS logprob_q6,
               CAST(SUM(tf.tf * lp.lq) // SUM(tf.tf) AS BIGINT) AS mean_bits_q6
        FROM tf JOIN lp USING (term)
        GROUP BY tf.doc_id
    """


#: GPT-2-ish pre-tokenizer pattern — contraction suffixes, space-affine
#: letter runs, digit runs, punctuation runs. Deliberately restricted to
#: the Java-regex ∩ RE2 subset (no lookahead, no \p classes) so the
#: DuckDB oracle matches token-for-token; verified 0 count mismatches on
#: the corpus.
BPE_PRETOKEN_REGEX = "'[a-z]{1,2}| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ']+"


def bpe_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish pre-tokenizer counts per doc: the token-budget estimator
    a training pipeline uses before the real tokenizer exists (regex
    pre-tokenization is the first stage of BPE; run counts approximate
    post-merge token counts far better than whitespace words do).
    JVM regexp — no Python in the hot path; zero shuffles."""
    m = F.regexp_extract_all(F.lower(text_col), F.lit(BPE_PRETOKEN_REGEX), F.lit(0))
    ws = F.expr(f"filter(split({text_col}, '\\\\s+'), x -> x != '')")
    return df.select(
        "doc_id",
        F.size(m).alias("n_bpe_tokens"),
        F.size(ws).alias("n_ws_tokens"),
        F.octet_length(text_col).alias("n_bytes"),
    )


def bpe_token_stats_sql(rel: str, text_col: str = "text") -> str:
    """DuckDB oracle twin of :func:`bpe_token_stats`."""
    pat = BPE_PRETOKEN_REGEX.replace("'", "''")
    return f"""
        SELECT doc_id,
               len(regexp_extract_all(lower({text_col}), '{pat}'))
                   AS n_bpe_tokens,
               len(list_filter(string_split_regex({text_col}, '\\s+'),
                               x -> x <> '')) AS n_ws_tokens,
               CAST(strlen({text_col}) AS INTEGER) AS n_bytes
        FROM {rel}
    """


#: fixed token-window size for sub-document ("paragraph") dedup
PARA_TOKENS = 20


def paragraph_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sub-document exact dedup (the C4/RefinedWeb line-level pass):
    chunk each doc's token stream into ``PARA_TOKENS``-token paragraphs,
    hash-group identical paragraphs corpus-wide, keep the first
    occurrence (smallest ``(doc_id, idx)``), and report per doc how many
    of its paragraphs survive.

    Shape at 100 TB: paragraphs shuffle once on their md5; the winner
    per hash is a min(struct) hash aggregate (map-side combinable, no
    window/sort); survivors re-aggregate on doc_id. Duplicate-heavy
    corpora cost the same reducer memory as clean ones.
    """
    t = tokens(text_col)
    paras = (
        df.select("doc_id", t.alias("_toks"))
        .withColumn("_n", F.expr(f"(size(_toks) + {PARA_TOKENS - 1}) div {PARA_TOKENS}"))
        .select(
            "doc_id",
            # sequence(1, 0) is the DESCENDING [1, 0] in Spark — a
            # zero-token doc would fabricate two phantom empty
            # paragraphs (DuckDB's generate_series(1, 0) is empty).
            # Guard _n > 0 so an empty doc yields no paragraph rows,
            # same as the oracle.
            F.posexplode(
                F.expr(
                    f"transform(if(_n > 0, sequence(1, _n),"
                    f" array()), i ->"
                    f" array_join(slice(_toks, (i - 1) * {PARA_TOKENS} + 1,"
                    f" {PARA_TOKENS}), ' '))"
                )
            ).alias("idx", "para"),
        )
        .withColumn("_h", F.md5("para"))
    )
    keep = (
        paras.groupBy("_h")
        .agg(F.min(F.struct("doc_id", "idx")).alias("_w"))
        .select(F.col("_w.doc_id").alias("doc_id"), F.col("_w.idx").alias("idx"))
    )
    kept_per_doc = (
        paras.join(keep, ["doc_id", "idx"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    totals = paras.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paragraphs")
    )
    return totals.join(kept_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_paragraphs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


#: Gopher rule-filter stopword probe set (Rae et al., arXiv:2112.11446
#: Table A1: "contains at least 2 of a fixed stop-word list")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style hard rule filter (the standard pre-training corpus
    gate, complementing the soft composite in :func:`quality_score`):
    word-count bounds, mean-word-length band, symbol-to-word ceiling,
    and a stop-word floor, each reported as its own boolean plus the
    conjunction ``passes``.

    Ratios are quantized to integer parts-per-million with pure IEEE
    arithmetic (``floor(x·1e6 + 0.5)``) before any comparison, so the
    DuckDB oracle computes bit-identical flags. Pure per-row
    projection — no shuffle at any scale. Zero-token docs drop out
    (no rules are meaningful on them; both engines agree).
    """
    base = (
        df.select(
            "doc_id",
            tokens(text_col).alias("_t"),
            F.length(text_col).alias("_nc"),
            F.length(
                F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9 ]", "")
            ).alias("_al"),
        )
        .filter(F.size("_t") > 0)
        .select(
            "doc_id",
            F.size("_t").alias("n_words"),
            F.expr(
                "aggregate(transform(_t, x -> length(x)), 0L, (a, x) -> a + x)"
            ).alias("_wlen"),
            (F.col("_nc") - F.col("_al")).alias("_sym"),
            F.size(
                F.expr(
                    "filter(_t, x -> x IN ({}))".format(
                        ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
                    )
                )
            ).alias("stop_hits"),
        )
    )
    mean_q6 = F.expr(
        "cast(floor(_wlen / cast(n_words as double) * 1000000 + 0.5) as bigint)"
    )
    sym_q6 = F.expr(
        "cast(floor(_sym / cast(n_words as double) * 1000000 + 0.5) as bigint)"
    )
    out = base.select(
        "doc_id",
        "n_words",
        mean_q6.alias("mean_word_len_q6"),
        sym_q6.alias("symbol_word_q6"),
        "stop_hits",
    )
    ok_words = (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
    ok_mean = (F.col("mean_word_len_q6") >= 3_000_000) & (
        F.col("mean_word_len_q6") <= 10_000_000
    )
    ok_sym = F.col("symbol_word_q6") <= 1_000_000
    ok_stop = F.col("stop_hits") >= 2
    return out.select(
        "*",
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_sym & ok_stop).alias("passes"),
    )


def gopher_quality_sql(rel: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle twin of :func:`gopher_quality`."""
    toks = (
        "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    ).format(col=text_col)
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
        WITH t AS (
            SELECT doc_id, {toks} AS toks,
                   length({text_col}) AS nc,
                   length(regexp_replace({text_col}, '[^a-zA-Z0-9 ]', '', 'g'))
                       AS al
            FROM {rel}),
        b AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   list_aggregate(list_transform(toks, x -> strlen(x)), 'sum')
                       AS wlen,
                   nc - al AS sym,
                   len(list_filter(toks, x -> x IN ({stops}))) AS stop_hits
            FROM t WHERE len(toks) > 0),
        q AS (
            SELECT doc_id, n_words,
                   CAST(floor(wlen / CAST(n_words AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS mean_word_len_q6,
                   CAST(floor(sym / CAST(n_words AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS symbol_word_q6,
                   stop_hits
            FROM b)
        SELECT doc_id, n_words, mean_word_len_q6, symbol_word_q6, stop_hits,
               (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
               (mean_word_len_q6 >= 3000000 AND mean_word_len_q6 <= 10000000)
                   AS ok_mean_word_len,
               (symbol_word_q6 <= 1000000) AS ok_symbol_ratio,
               (stop_hits >= 2) AS ok_stopwords,
               ((n_words >= 50 AND n_words <= 100000)
                AND (mean_word_len_q6 >= 3000000
                     AND mean_word_len_q6 <= 10000000)
                AND (symbol_word_q6 <= 1000000)
                AND (stop_hits >= 2)) AS passes
        FROM q
    """


def bigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Bigram language-model scoring: per-doc total and mean surprisal
    in bits under the corpus's own MLE bigram model
    ``p(b | a) = C(a,b) / C(a,·)`` — one step up the LM-quality ladder
    from :func:`unigram_logprob`, sensitive to scrambled word order
    that a unigram model cannot see.

    Same determinism contract: per-bigram surprisal is quantized to an
    integer (``floor(-log2(p)·1e6 + 0.5)``) BEFORE the per-doc sum, so
    aggregation is integer arithmetic in both engines.

    Shape at 100 TB: bigram explode → per-doc and corpus bigram counts
    (one shuffle each, map-side combined); the prefix total C(a,·)
    folds FROM the corpus bigram table (no second corpus pass); the
    surprisal table joins back on (a, b) with a plain shuffle join —
    bigram vocabulary grows with corpus size, so no broadcast here
    (unlike the unigram path). Docs with < 2 tokens drop out (both
    engines). (r16 probe: deriving C(a,b) from the per-doc table does
    NOT remove the second explode — Catalyst prunes the two
    references differently, so the exchange never canonicalizes equal
    and reuse cannot fire — and it shuffles (doc,a,b)-grained partials
    where this form shuffles (a,b) partials; measured plan-identical
    scan count, reverted.)
    """
    pairs = (
        df.select("doc_id", tokens(text_col).alias("_t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(_t, 1, greatest(size(_t) - 1, 0)),"
                    " slice(_t, 2, greatest(size(_t) - 1, 0)),"
                    " (x, y) -> named_struct('a', x, 'b', y))"
                )
            ).alias("_bg"),
        )
        .select("doc_id", F.col("_bg.a").alias("a"), F.col("_bg.b").alias("b"))
    )
    bf = pairs.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("bf"))
    c2 = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("a").agg(F.sum("c2").alias("c1"))
    lp = c2.join(c1, "a").select(
        "a",
        "b",
        F.expr(
            "cast(floor(-log2(c2 / cast(c1 as double)) * 1000000 + 0.5)"
            " as bigint)"
        ).alias("lq"),
    )
    return (
        bf.join(lp, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("bf").alias("n_bigrams"),
            F.sum(F.col("bf") * F.col("lq")).alias("logprob_q6"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "logprob_q6",
            F.expr("logprob_q6 div n_bigrams").alias("mean_bits_q6"),
        )
    )


def bigram_logprob_sql(rel: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle twin of :func:`bigram_logprob`."""
    toks = (
        "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    ).format(col=text_col)
    return f"""
        WITH d AS (SELECT doc_id, {toks} AS t FROM {rel}),
        pos AS (SELECT doc_id, t,
                       UNNEST(generate_series(1, len(t) - 1)) AS i
                FROM d),
        bg AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b FROM pos),
        bf AS (SELECT doc_id, a, b, COUNT(*) AS bf FROM bg GROUP BY 1, 2, 3),
        c2 AS (SELECT a, b, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT a, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        lp AS (SELECT a, b,
                      CAST(floor(-log2(c2 / CAST(c1 AS DOUBLE)) * 1000000
                                 + 0.5) AS BIGINT) AS lq
               FROM c2 JOIN c1 USING (a))
        SELECT bf.doc_id,
               CAST(SUM(bf.bf) AS BIGINT) AS n_bigrams,
               CAST(SUM(bf.bf * lp.lq) AS BIGINT) AS logprob_q6,
               CAST(SUM(bf.bf * lp.lq) // SUM(bf.bf) AS BIGINT)
                   AS mean_bits_q6
        FROM bf JOIN lp USING (a, b)
        GROUP BY bf.doc_id
    """


def dup_span_stats(
    df: DataFrame, text_col: str = "text", *, n: int = 20
) -> DataFrame:
    """Per-doc duplicated-span accounting — the sliding-window
    approximation of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better": a span duplicated
    anywhere else in the corpus marks the enclosing text).

    Every POSITIONAL n-token window (stride 1, unlike the disjoint
    paragraph chunks of ``paragraph_dedup_stats``) is hashed; a window
    whose text occurs in ≥2 distinct documents corpus-wide is a
    duplicated span. Emits per doc: total spans, duplicated spans, and
    the duplicated fraction in ppm (pure bigint arithmetic — no float).

    Scale shape: the span table is |tokens| rows but the duplicated-set
    is computed with one map-side-combinable count-distinct aggregate
    on the span hash, and rejoined on the SAME hash key — two shuffles
    on one key, no windows, no broadcast of anything corpus-sized. Docs
    shorter than n tokens have zero spans and are excluded (guarded
    against Spark's descending ``sequence(1, 0)``).
    """
    # Span hashing runs in a vectorized Arrow kernel (same move as
    # simhash_fingerprints): the expression form — a sliding
    # transform/array_join lambda — is interpreted per window position
    # and measured 6-13 s at sf0.1; the kernel tokenizes once per doc
    # and computes all window hashes as ONE numpy sliding-window dot
    # product with uint64 wraparound (a degree-(n-1) polynomial rolling
    # hash over 64-bit blake2b token hashes — no span strings ever
    # built). Per-token hashes are 64-bit, NOT crc32: a 32-bit token
    # hash goes birthday-probable once the vocabulary nears ~10^5
    # distinct tokens, and a colliding token pair makes textually
    # different spans hash-equal on this side only, inflating
    # n_dup_spans relative to the oracle. blake2b(digest_size=8) keeps
    # cross-span collisions at the 2^-64 level; a per-task memo keyed
    # by token amortizes the digest to once per distinct vocabulary
    # word. The hash never leaves the plan (output is counts), so it
    # only needs INTRA-engine consistency; the DuckDB oracle hashes the
    # joined span text on its side. Python ``re.split`` on
    # ``[^a-z0-9]+`` after ``lower()`` matches the JVM/DuckDB TOKENIZE
    # convention exactly on ASCII corpora (same guarantee simhash
    # documents).
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql import types as T

    tok_re = _re.compile(r"[^a-z0-9]+")
    pw = np.uint64(31) ** np.arange(n - 1, -1, -1, dtype=np.uint64)

    def span_hashes(batches):
        memo: dict[str, int] = {}

        def h64(t: str) -> int:
            v = memo.get(t)
            if v is None:
                v = int.from_bytes(
                    hashlib.blake2b(t.encode(), digest_size=8).digest(), "big"
                )
                memo[t] = v
            return v

        for pdf in batches:
            ids, hs = [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                toks = [t for t in tok_re.split((txt or "").lower()) if t]
                if len(toks) < n:
                    continue
                th = np.fromiter(
                    (h64(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                with np.errstate(over="ignore"):
                    h = (sliding_window_view(th, n) * pw).sum(axis=1)
                ids.append(
                    np.full(h.shape, doc_id, dtype=np.int64)
                )
                hs.append(h.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "_h": np.concatenate(hs),
                    }
                )

    spans = df.select("doc_id", text_col).mapInPandas(
        span_hashes,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("_h", T.LongType(), False),
            ]
        ),
    )
    # fold to (doc, span-hash, multiplicity) FIRST: the Python kernel
    # is then referenced exactly once (one map-side-combinable
    # aggregate), the duplicated-set count-distinct becomes a plain
    # count over the folded table (each row IS one distinct doc), and
    # the rejoin moves |distinct spans| rows instead of |positions|
    # (guide §2.3; the r15 form re-ran the span kernel for the second
    # corpus-wide pass)
    sp = spans.groupBy("doc_id", "_h").agg(F.count(F.lit(1)).alias("_k"))
    dup = (
        sp.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_h")
    )
    marked = sp.join(dup.withColumn("_dup", F.lit(1)), "_h", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum("_k").alias("n_spans"),
            F.sum(
                F.coalesce(F.col("_dup"), F.lit(0)) * F.col("_k")
            ).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ppm", F.expr("(n_dup_spans * 1000000) div n_spans")
        )
        .orderBy("doc_id")
    )


def dup_span_removal(
    df: DataFrame,
    text_col: str = "text",
    *,
    n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Remove corpus-duplicated n-token spans from each document — the
    REMOVAL half of Lee et al. exact-substring dedup (``dup_span_stats``
    is the accounting half): every token covered by any n-token window
    whose text occurs in ≥ ``min_docs`` distinct documents is dropped,
    and the survivors are rejoined in original order.

    Tokenization is the EXACT single-space split (empties preserved), so
    ``array_join(tokens, ' ')`` is the identity on untouched documents —
    the operator never reflows whitespace it didn't remove. Documents
    shorter than ``n`` tokens pass through verbatim; a fully-duplicated
    document comes back with ``clean_text = ''`` rather than vanishing.

    Emits (doc_id, n_tokens, n_removed, clean_text).

    Scale shape: span hashes come from the same Arrow rolling-hash
    kernel as ``dup_span_stats`` (64-bit blake2b token hashes folded by
    a degree-(n-1) polynomial — no span strings built, one pass per
    doc); the duplicated set is ONE map-side-combinable count-distinct
    on the hash; coverage positions explode only from DUPLICATED span
    occurrences (output-bound, not |tokens|-bound); the kept-token
    anti-join and the per-doc reassembly shuffle on (doc_id, pos) /
    doc_id. Nothing corpus-sized is broadcast or collected; reducer row
    width is bounded by the document length (the same bounded-doc
    contract as ``minhash_lsh_pairs(verify='sets')``).

    Cross-engine exactness: duplicated-ness is decided by the 64-bit
    span hash on this side and by the span TEXT in the DuckDB oracle;
    they agree unless blake2b-poly collides (~2⁻⁶⁴ per span pair — the
    contract ``dup_span_stats`` already documents).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql import types as T

    pw = np.uint64(31) ** np.arange(n - 1, -1, -1, dtype=np.uint64)

    def span_hashes(batches):
        memo: dict[str, int] = {}

        def h64(t: str) -> int:
            v = memo.get(t)
            if v is None:
                v = int.from_bytes(
                    hashlib.blake2b(t.encode(), digest_size=8).digest(), "big"
                )
                memo[t] = v
            return v

        for pdf in batches:
            ids, poss, hs = [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                toks = (txt or "").split(" ")
                if len(toks) < n:
                    continue
                th = np.fromiter(
                    (h64(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                with np.errstate(over="ignore"):
                    h = (sliding_window_view(th, n) * pw).sum(axis=1)
                ids.append(np.full(h.shape, doc_id, dtype=np.int64))
                poss.append(np.arange(h.shape[0], dtype=np.int64))
                hs.append(h.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "gpos": np.concatenate(poss),
                        "_h": np.concatenate(hs),
                    }
                )

    spans = df.select("doc_id", text_col).mapInPandas(
        span_hashes,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("gpos", T.LongType(), False),
                T.StructField("_h", T.LongType(), False),
            ]
        ),
    )
    dup = (
        spans.groupBy("_h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    covered = (
        spans.join(dup, "_h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    toks = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), " ", -1)).alias("pos", "tok"),
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, tok))),"
                   " x -> x.tok)"),
            " ",
        ).alias("_clean"),
    )
    n_tokens = F.size(F.split(F.col(text_col), " ", -1))
    return (
        df.select("doc_id", n_tokens.alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("_clean"), F.lit("")).alias("clean_text"),
        )
    )


def sentence_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sentence segmentation stats per doc: sentence count, mean
    sentence length in characters and in tokens — the readability-
    profile counters a quality pipeline runs next to the token stats.

    Sentences are maximal runs between ``[.!?]`` terminators, trimmed,
    empties dropped (a deterministic heuristic, not a model — same
    design stance as ``language_id``). All JVM higher-order-function
    expressions: per-row, zero shuffle, scales linearly with executors.
    Ratios use the module's floor(x·100+0.5)/100 rounding (bit-identical
    across engines; inputs are exact small ints so the division is the
    same double in both) and try_divide semantics for sentence-less
    docs (NULL, not an ANSI error).
    """
    sent = (
        f"filter(transform(split({text_col}, '[.!?]+'), x -> trim(x)),"
        " x -> x != '')"
    )
    n_sent = F.size(F.expr(sent))
    sum_chars = F.expr(
        f"aggregate(transform({sent}, x -> length(x)), 0L, (a, x) -> a + x)"
    )
    n_toks = F.size(tokens(text_col))
    return df.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        (F.floor(F.try_divide(sum_chars, n_sent) * 100 + F.lit(0.5)) / 100).alias(
            "avg_sentence_chars"
        ),
        (F.floor(F.try_divide(n_toks, n_sent) * 100 + F.lit(0.5)) / 100).alias(
            "avg_sentence_tokens"
        ),
    )


def sentence_stats_sql(rel: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle for :func:`sentence_stats` (same split/trim/drop)."""
    sent = (
        f"list_filter(list_transform(string_split_regex({text_col},"
        " '[.!?]+'), x -> trim(x)), x -> x <> '')"
    )
    toks = f"list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'), x -> x <> '')"
    return f"""
        SELECT doc_id,
               len({sent}) AS n_sentences,
               floor(CAST(list_sum(list_transform({sent}, x -> length(x)))
                          AS DOUBLE) / nullif(len({sent}), 0) * 100 + 0.5)
                   / 100 AS avg_sentence_chars,
               floor(CAST(len({toks}) AS DOUBLE) / nullif(len({sent}), 0)
                     * 100 + 0.5) / 100 AS avg_sentence_tokens
        FROM {rel}
    """


def char_diversity(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-diversity profile per doc: effective char count,
    distinct chars, and the Gini–Simpson diversity index in ppm — the
    boilerplate/mojibake detector that needs no log() (repetitive docs
    → low diversity, natural text → ~0.93-0.96 for English).

    Gini–Simpson 1 − Σ(c/n)² is computed as EXACT integer arithmetic:
    ``((n² − Σc²)·2·10⁶ + n²) div (2n²)`` — round-half-up with zero
    floating point, so there is no cross-engine boundary at all (the
    entropy formulation was rejected precisely because libm log2 can
    differ by 1 ulp between engines). Runs as one Arrow kernel pass
    (per-doc ``np.unique`` counting; the expression form would be
    O(distinct·len) per doc) — narrow, zero shuffle. Empty/NULL texts
    are excluded (diversity undefined at n=0), matching the oracle's
    ``WHERE length(text) > 0``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def kern(batches):
        for pdf in batches:
            out = {"doc_id": [], "n_chars_eff": [], "n_distinct_chars": [],
                   "diversity_ppm": []}
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                if not txt:
                    continue
                cp = np.frombuffer(txt.encode("utf-32-le"), dtype=np.uint32)
                _, counts = np.unique(cp, return_counts=True)
                n = int(cp.size)
                s = int((counts.astype(np.int64) ** 2).sum())
                n2 = n * n
                out["doc_id"].append(doc_id)
                out["n_chars_eff"].append(n)
                out["n_distinct_chars"].append(int(counts.size))
                out["diversity_ppm"].append(
                    ((n2 - s) * 2_000_000 + n2) // (2 * n2)
                )
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select("doc_id", text_col).mapInPandas(
        kern,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("n_chars_eff", T.LongType(), False),
                T.StructField("n_distinct_chars", T.LongType(), False),
                T.StructField("diversity_ppm", T.LongType(), False),
            ]
        ),
    )


def char_diversity_sql(rel: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle for :func:`char_diversity` — same integer formula
    over a codepoint unnest (DuckDB string_split('') yields codepoints,
    matching the kernel's utf-32 view)."""
    return f"""
        WITH ch AS (
            SELECT doc_id, unnest(string_split({text_col}, '')) AS c
            FROM {rel} WHERE length({text_col}) > 0),
        cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        agg AS (
            SELECT doc_id,
                   CAST(SUM(k) AS BIGINT) AS n,
                   CAST(SUM(k * k) AS BIGINT) AS s,
                   COUNT(*) AS d
            FROM cnt GROUP BY 1)
        SELECT doc_id,
               n AS n_chars_eff,
               d AS n_distinct_chars,
               ((n * n - s) * 2000000 + n * n) // (2 * n * n)
                   AS diversity_ppm
        FROM agg
    """


def perplexity_buckets(
    df: DataFrame,
    *,
    n_buckets: int = 3,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): rank each language's documents by LM surprisal
    and split into equal-count buckets — head (most fluent) / middle /
    tail at the default 3 — the standard pre-filter that routes crawl
    text into keep / maybe / drop tiers before expensive processing.

    Surprisal is :func:`unigram_logprob`'s exact integer
    ``mean_bits_q6`` (per-term quantization BEFORE the sum, the
    module's cross-engine discipline); the split is ``ntile`` over
    (mean_bits_q6, doc_id) within each language — deterministic
    total order, identical tile arithmetic in DuckDB. Zero-token docs
    have no surprisal and drop out upstream, mirroring unigram_logprob.

    Scale shape: one window partitioned by language. A language IS a
    hot partition at corpus scale — for 100 TB swap the ntile for the
    range-partitioned ``quantile_bucket`` (corpus.py) over mean_bits_q6
    exactly as ``corpus_curriculum_order`` does; the ntile form is the
    exact-oracle-checkable contract both share.
    """
    from pyspark.sql import Window

    lp = unigram_logprob(df, text_col)
    w = Window.partitionBy(lang_col).orderBy("mean_bits_q6", "doc_id")
    labels = F.when(F.col("_tile") == 1, F.lit("head"))
    if n_buckets >= 3:
        labels = labels.when(F.col("_tile") == n_buckets, F.lit("tail"))
    return (
        lp.join(df.select("doc_id", lang_col), "doc_id")
        .withColumn("_tile", F.ntile(n_buckets).over(w))
        .select(
            "doc_id",
            lang_col,
            "mean_bits_q6",
            F.coalesce(labels, F.lit("middle")).alias("bucket"),
        )
    )


def bpe_train_merges(
    df: DataFrame,
    *,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016, the
    GPT-2 tokenizer-training recipe): learn the first ``n_merges``
    merge rules from the corpus — each round counts adjacent symbol
    pairs across the (frequency-weighted) vocabulary, picks the most
    frequent pair, and merges every leftmost-greedy occurrence.

    Distributed shape: the only corpus-sized work is ONE tokenize +
    word count (map-side combinable); every merge round then runs over
    the VOCABULARY as one row per word carrying its symbol ARRAY —
    pair counting explodes adjacent pairs into a map-side-combined
    sum, and the merge itself is a PER-ROW left fold
    (``_bpe_fold_expr``): no window, no per-round shuffle beyond the
    pair count, nothing wider than one word's symbols in any operator.
    A production 32k-merge run is this same loop; the gate unrolls
    ``n_merges`` rounds so a SQL oracle can reproduce the training
    bit-for-bit (the oracle keeps the gaps-and-islands window
    formulation — DuckDB's ``reduce`` lacks a list accumulator — and
    the fold provably lands the same even-offset merges).

    Exact-semantics details (all cross-engine deterministic):

    - Winner = max total count, ties → lexicographically smallest
      (left, right) — ``min(struct(-count, left, right))``, a plain
      aggregate.
    - Leftmost-greedy overlap: in a run of consecutive matching
      positions (only possible when left == right, e.g. ``aaa`` with
      pair (a, a)), merges land at even offsets from the run start —
      the gaps-and-islands window formulation below is the exact
      leftmost fold, and both engines share it verbatim (a list-fold
      would need a list accumulator DuckDB's ``reduce`` lacks).
    - A round with NO pairs left emits nothing and ends training
      early (single-char vocabulary); later rounds stay empty in both
      engines.

    Returns (merge_rank, left_sym, right_sym, pair_count) for rounds
    1..n_merges.
    """
    # merges is a LOCAL relation (driver-fetched winners) — nothing to
    # keep; the scope frees every per-round vocabulary block set the
    # training loop persisted (the final round's lazy checkpoint was
    # never materialized on this path and unpersists as a no-op)
    with ckpt.scope():
        merges, _, _ = _bpe_train_full(df, n_merges=n_merges, text_col=text_col)
    return merges


#: Adjacent symbol pairs of a per-word symbol ARRAY — the pair-count
#: input. Guarded against 1-symbol words (Spark's ``sequence(1, 0)``
#: would DESCEND, not empty).
_BPE_ADJ_PAIRS = (
    "case when size(syms) < 2 then array() else "
    "transform(sequence(1, size(syms) - 1), "
    "i -> struct(element_at(syms, i) as sym, "
    "element_at(syms, i + 1) as nxt)) end"
)

def _bpe_fold_expr(left_sym: str, right_sym: str) -> str:
    """One leftmost-greedy application of a trained (left_sym,
    right_sym) merge rule over a per-word symbol array — the kernel
    shared by TRAINING (the round's winner) and APPLICATION/REPLAY
    (a stored rule, the OOV char-fallback path). A plain left fold IS
    the published semantics: append each symbol, and when the
    accumulator's last element is ``left_sym`` and the incoming one is
    ``right_sym``, replace them with the merged symbol. A freshly
    merged symbol can never re-match inside the same pass (as left it
    would need ``l‖r = l``, as right ``l‖r = r`` — both impossible for
    non-empty syms), so the fold lands merges at exactly the even
    offsets of each match run — bit-identical to the oracle's
    gaps-and-islands formulation, which exists only because SQL
    windows cannot fold. ``try_element_at`` keeps the
    empty-accumulator probe legal under ANSI.

    The rule rides in as INLINE LITERALS (the winner is one
    driver-fetched row per round — r16): the former 0/1-row broadcast
    LEFT join + NULL-guard cost a per-round join and forced a
    per-round lineage cut; a literal fold is a pure projection the
    optimizer can stack with its neighbors. Symbols are substrings of
    ``TOKENIZE`` output (``[a-z0-9]+``), so quoting is trivial, but
    escape anyway for custom tokenizers."""
    lit_l = left_sym.replace("\\", "\\\\").replace("'", "\\'")
    lit_r = right_sym.replace("\\", "\\\\").replace("'", "\\'")
    return (
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        f"case when try_element_at(acc, -1) = '{lit_l}' and x = '{lit_r}' "
        "then concat(slice(acc, 1, size(acc) - 1), "
        f"array('{lit_l}{lit_r}')) "
        "else concat(acc, array(x)) end)"
    )


#: Rules-frame schema shared by the trained and degenerate (0-round)
#: outputs.
_BPE_RULES_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, pair_count bigint"
)


def _bpe_train_full(
    df: DataFrame,
    *,
    n_merges: int,
    text_col: str,
) -> tuple[DataFrame, DataFrame, list[tuple[int, str, str, int]]]:
    """(merge rules frame, final (word, wc, syms) vocabulary table,
    rules as plain tuples) — the shared body of
    :func:`bpe_train_merges` (rules only), :func:`bpe_apply_token_
    counts` (rules applied back to the corpus) and
    :func:`bpe_apply_oov_token_counts` (rules replayed over unseen
    text).

    Each round's winner is ONE row by construction (a global
    min-struct aggregate), so it is fetched to the driver and applied
    as an inline-literal fold — BPE training is inherently
    round-sequential in every engine, and a 16-byte-bounded fetch per
    round is the codebook/centroid class of sanctioned driver
    transfer, not a corpus collect. vs the former plan-side winner
    (lazy checkpoint + 0/1-row broadcast LEFT join + rules union):
    one action per round instead of three stage-materializations, no
    per-round join, and the returned rules frame is a local relation
    (r16; measured 15 jobs → 6 on the 3-merge gate).

    A no-pairs round ends training (folds never split symbols, so
    pairs stay empty forever — identical to the former no-op rounds).
    Round r's winner aggregate is the action that materializes round
    r-1's lazy checkpoint, so per-round lineage stays one round deep;
    every round's checkpoint belongs to the caller's scope."""
    toks = df.select(
        F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("word")
    )
    words = toks.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    surv = words.select(
        "word",
        "wc",
        F.expr(
            "transform(sequence(1, length(word)), "
            "p -> substring(word, p, 1))"
        ).alias("syms"),
    )
    rules: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            surv.select("wc", F.explode(F.expr(_BPE_ADJ_PAIRS)).alias("pr"))
            .groupBy(
                F.col("pr.sym").alias("sym"), F.col("pr.nxt").alias("nxt")
            )
            .agg(F.sum("wc").alias("cnt"))
        )
        row = pairs.agg(
            F.min(F.struct((-F.col("cnt")).alias("_n"), "sym", "nxt")).alias(
                "_w"
            )
        ).first()
        w = row["_w"] if row is not None else None
        if w is None or w["sym"] is None:
            break  # single-symbol vocabulary: no pairs now or ever
        rules.append((rank, w["sym"], w["nxt"], -w["_n"]))
        fold = F.expr(_bpe_fold_expr(w["sym"], w["nxt"])).alias("syms")
        # cut the per-round lineage
        surv = ckpt.checkpoint(surv.select("word", "wc", fold), eager=False)
    out = df.sparkSession.createDataFrame(rules, _BPE_RULES_SCHEMA)
    return out, surv, rules


def bpe_train_merges_sql(
    docs_rel: str = "documents",
    *,
    n_merges: int = 3,
    text_col: str = "text",
    ctes_only: bool = False,
):
    """DuckDB oracle twin of :func:`bpe_train_merges` — the identical
    gaps-and-islands formulation, unrolled per merge round."""
    toks = (
        "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    ).format(col=text_col)
    ctes = [
        f"""t AS (SELECT UNNEST({toks}) AS word FROM {docs_rel})""",
        "wrd AS (SELECT word, COUNT(*) AS wc FROM t GROUP BY word)",
        """s0 AS (SELECT word, wc, i AS pos, substr(word, i, 1) AS sym
               FROM wrd, UNNEST(generate_series(1, length(word))) AS u(i))""",
    ]
    prev = "s0"
    finals = []
    for r in range(1, n_merges + 1):
        ctes.append(
            f"""k{r} AS MATERIALIZED (SELECT word, wc,
                   row_number() OVER (PARTITION BY word ORDER BY pos) AS k,
                   sym FROM {prev})"""
        )
        ctes.append(
            f"""adj{r} AS MATERIALIZED (SELECT *, lead(sym) OVER (
                   PARTITION BY word ORDER BY k) AS nxt FROM k{r})"""
        )
        ctes.append(
            f"""p{r} AS (SELECT sym AS l, nxt AS r2, SUM(wc) AS cnt
                   FROM adj{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt)"""
        )
        ctes.append(
            f"""w{r} AS MATERIALIZED (SELECT l, r2, CAST(cnt AS BIGINT) AS cnt FROM p{r}
                   ORDER BY cnt DESC, l, r2 LIMIT 1)"""
        )
        ctes.append(
            # LEFT JOIN ON TRUE mirrors the kernel: a no-winner round
            # is a no-op, not an annihilating cross join
            f"""mt{r} AS (SELECT a.*, (a.sym = w.l AND a.nxt = w.r2) AS mat
                   FROM adj{r} a LEFT JOIN w{r} w ON TRUE)"""
        )
        ctes.append(
            f"""run{r} AS (SELECT *, CASE WHEN mat THEN
                   k - row_number() OVER (PARTITION BY word, mat ORDER BY k)
                   END AS grp FROM mt{r})"""
        )
        ctes.append(
            f"""mg{r} AS (SELECT *, mat AND ((row_number() OVER (
                   PARTITION BY word, grp ORDER BY k) - 1) % 2 = 0)
                   AS merged FROM run{r})"""
        )
        ctes.append(
            f"""c{r} AS (SELECT *, COALESCE(lag(merged) OVER (
                   PARTITION BY word ORDER BY k), FALSE) AS consumed
                   FROM mg{r})"""
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (SELECT word, wc, k AS pos,
                   CASE WHEN merged THEN sym || nxt ELSE sym END AS sym
                   FROM c{r} WHERE NOT consumed)"""
        )
        finals.append(
            f"SELECT {r} AS merge_rank, l AS left_sym, r2 AS right_sym,"
            f" cnt AS pair_count FROM w{r}"
        )
        prev = f"s{r}"
    joined = ",\n        ".join(ctes)
    union = " UNION ALL ".join(finals)
    if ctes_only:
        return joined, prev
    return f"""
        WITH {joined}
        SELECT * FROM ({union}) ORDER BY merge_rank
    """


def trigram_backoff_score(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al. EMNLP 2007 —
    designed AT distributed scale precisely because it needs no
    normalization pass): score held-out documents under the TRAIN
    split's counts with::

        S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)          if c(w1w2w3) > 0
                      = 0.4 · c(w2w3)/c(w2)        elif c(w2w3) > 0
                      = 0.4² · c(w3)/N             elif c(w3) > 0
                      = 0.4³ / N                   otherwise (OOV)

    Scoring the corpus against ITSELF would never back off (every
    observed trigram has c > 0); the train/eval separation is the
    point, and composes the gated md5 hash split. Determinism: each
    position's −log2 S is quantized to micro-bits BEFORE the per-doc
    sum (the unigram_logprob discipline), and every count ratio is
    evaluated in one fixed expression shape both engines share.

    Shape at 100 TB: train-side n-gram counts are three
    map-side-combinable aggregates (the Brants pipeline); eval
    positions LEFT-join the three count tables on their n-gram keys —
    trigram/bigram vocabularies outgrow broadcast, so those are plain
    hash joins on the n-gram string, and the corpus never shuffles on
    anything wider. N (train token count) rides a 1-row broadcast.

    Returns (doc_id, n_scored, backoff_q6) — positions 3..len score;
    docs with < 3 tokens drop out.
    """
    # materialize the token ARRAY once per row before any n-gram
    # lambda — inlining TOKENIZE inside element_at re-splits the text
    # per position (O(len²) per doc). CASE-guard short docs: Spark's
    # sequence(1, 0) runs DESCENDING and would element_at past the end
    # of an empty token array.
    t_arr = train.select(F.expr(TOKENIZE.format(col=text_col)).alias("_t"))
    t_toks = t_arr.select(F.explode("_t").alias("w"))
    tri = t_arr.select(
        F.explode(
            F.expr(
                "CASE WHEN size(_t) < 3 THEN array() ELSE"
                " transform(sequence(1, size(_t) - 2),"
                " i -> concat(element_at(_t, i), ' ',"
                " element_at(_t, i + 1), ' ', element_at(_t, i + 2)))"
                " END"
            )
        ).alias("g")
    ).groupBy("g").agg(F.count(F.lit(1)).alias("c3"))
    bi = t_arr.select(
        F.explode(
            F.expr(
                "CASE WHEN size(_t) < 2 THEN array() ELSE"
                " transform(sequence(1, size(_t) - 1),"
                " i -> concat(element_at(_t, i), ' ',"
                " element_at(_t, i + 1))) END"
            )
        ).alias("g")
    ).groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    uni = t_toks.groupBy(F.col("w").alias("g")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    totals = uni.agg(F.sum("c1").alias("_n"))

    ev = eval_docs.select(
        id_col, F.expr(TOKENIZE.format(col=text_col)).alias("_t")
    ).filter(F.size("_t") >= 3)
    pos = ev.select(
        id_col,
        F.explode(F.expr("sequence(3, size(_t))")).alias("i"),
        F.col("_t"),
    ).select(
        id_col,
        F.expr("concat(element_at(_t, i - 2), ' ', element_at(_t, i - 1),"
               " ' ', element_at(_t, i))").alias("tg"),
        F.expr("concat(element_at(_t, i - 2), ' ', element_at(_t, i - 1))"
               ).alias("bg_ctx"),
        F.expr("concat(element_at(_t, i - 1), ' ', element_at(_t, i))"
               ).alias("bg"),
        F.expr("element_at(_t, i - 1)").alias("w2"),
        F.expr("element_at(_t, i)").alias("w3"),
    )
    joined = (
        pos.join(tri.withColumnRenamed("g", "tg"), "tg", "left")
        .join(
            bi.select(F.col("g").alias("bg_ctx"), F.col("c2").alias("c2_ctx")),
            "bg_ctx",
            "left",
        )
        .join(bi.withColumnRenamed("g", "bg"), "bg", "left")
        .join(
            uni.select(F.col("g").alias("w2"), F.col("c1").alias("c1_w2")),
            "w2",
            "left",
        )
        .join(
            uni.select(F.col("g").alias("w3"), F.col("c1").alias("c1_w3")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    # -log2(S) in micro-bits, one fixed expression shape per tier
    surprisal = (
        "cast(floor((CASE"
        " WHEN c3 IS NOT NULL THEN"
        "  -log2(c3 / cast(c2_ctx as double))"
        " WHEN c2 IS NOT NULL THEN"
        "  -log2(0.4 * (c2 / cast(c1_w2 as double)))"
        " WHEN c1_w3 IS NOT NULL THEN"
        "  -log2(0.16 * (c1_w3 / cast(_n as double)))"
        " ELSE -log2(0.064 / cast(_n as double))"
        " END) * 1000000 + 0.5) as bigint)"
    )
    return (
        joined.select(id_col, F.expr(surprisal).alias("_sq"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("_sq").alias("backoff_q6"),
        )
    )


def trigram_backoff_sql(
    train_rel: str,
    eval_rel: str,
    *,
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`trigram_backoff_score`."""
    toks = (
        "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    ).format(col=text_col)
    tri_g = (
        "list_transform(generate_series(1, greatest(len(t) - 2, 0)),"
        " i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])"
    )
    bi_g = (
        "list_transform(generate_series(1, greatest(len(t) - 1, 0)),"
        " i -> t[i] || ' ' || t[i + 1])"
    )
    return f"""
        trn AS (SELECT {toks} AS t FROM {train_rel}),
        tri AS (SELECT g, COUNT(*) AS c3 FROM
                  (SELECT UNNEST({tri_g}) AS g FROM trn) GROUP BY g),
        bi AS (SELECT g, COUNT(*) AS c2 FROM
                  (SELECT UNNEST({bi_g}) AS g FROM trn) GROUP BY g),
        uni AS (SELECT g, COUNT(*) AS c1 FROM
                  (SELECT UNNEST(t) AS g FROM trn) GROUP BY g),
        tot AS (SELECT SUM(c1) AS n FROM uni),
        ev AS (SELECT doc_id, {toks} AS t FROM {eval_rel}),
        pos AS (SELECT doc_id,
                       t[i - 2] || ' ' || t[i - 1] || ' ' || t[i] AS tg,
                       t[i - 2] || ' ' || t[i - 1] AS bg_ctx,
                       t[i - 1] || ' ' || t[i] AS bg,
                       t[i - 1] AS w2, t[i] AS w3
                FROM ev, UNNEST(generate_series(3, len(t))) AS u(i)
                WHERE len(t) >= 3),
        j AS (SELECT pos.doc_id,
                     tri.c3, bc.c2 AS c2_ctx, bi.c2,
                     u2.c1 AS c1_w2, u3.c1 AS c1_w3, tot.n
              FROM pos
              LEFT JOIN tri ON tri.g = pos.tg
              LEFT JOIN bi bc ON bc.g = pos.bg_ctx
              LEFT JOIN bi ON bi.g = pos.bg
              LEFT JOIN uni u2 ON u2.g = pos.w2
              LEFT JOIN uni u3 ON u3.g = pos.w3
              CROSS JOIN tot),
        sq AS (SELECT doc_id,
                      CAST(floor((CASE
                        WHEN c3 IS NOT NULL THEN
                          -log2(c3 / CAST(c2_ctx AS DOUBLE))
                        WHEN c2 IS NOT NULL THEN
                          -log2(0.4 * (c2 / CAST(c1_w2 AS DOUBLE)))
                        WHEN c1_w3 IS NOT NULL THEN
                          -log2(0.16 * (c1_w3 / CAST(n AS DOUBLE)))
                        ELSE -log2(0.064 / CAST(n AS DOUBLE))
                      END) * 1000000 + 0.5) AS BIGINT) AS sq
               FROM j)
        SELECT doc_id,
               COUNT(*) AS n_scored,
               CAST(SUM(sq) AS BIGINT) AS backoff_q6
        FROM sq GROUP BY doc_id
    """


def bpe_apply_token_counts(
    df: DataFrame,
    *,
    n_merges: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the corpus's own learned BPE merges back to the corpus —
    the tokenizer's OTHER half (:func:`bpe_train_merges` learns the
    rules; this measures what they buy): per document, the word count,
    the pre-merge symbol count (characters of its tokenized words), and
    the post-merge symbol count after ``n_merges`` rounds.

    The merged symbol streams already exist per VOCAB word at the end
    of training — application is a |vocab|-row count + one hash join
    of the (doc, word) stream against it, never a second pass of the
    merge machinery over documents. That is the production shape too:
    a tokenizer trains once on the vocabulary and applies by lookup.

    Returns (doc_id, n_words, n_chars_tokenized, n_symbols). Docs
    whose tokenization is empty drop out (no words to count).
    """
    with ckpt.scope():
        _, final_surv, rules = _bpe_train_full(
            df, n_merges=n_merges, text_col=text_col
        )
        if len(rules) > 1:
            # final_surv's lazy checkpoint still READS the previous
            # round's blocks, so materialize it once (the job the
            # caller's action would have run anyway) before the scope
            # frees every superseded round — the output join below
            # reads only final_surv
            final_surv.count()
        ckpt.keep(final_surv)
    wsym = final_surv.select("word", F.size("syms").alias("_nsym"))
    dw = df.select(
        id_col,
        F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("word"),
    )
    return (
        dw.join(wsym, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars_tokenized"),
            F.sum("_nsym").alias("n_symbols"),
        )
    )


def bpe_apply_token_counts_sql(
    docs_rel: str = "documents",
    *,
    n_merges: int = 3,
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`bpe_apply_token_counts`."""
    ctes, final = bpe_train_merges_sql(
        docs_rel, n_merges=n_merges, text_col=text_col, ctes_only=True
    )
    toks = (
        "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    ).format(col=text_col)
    return f"""
        WITH {ctes},
        wsym AS (SELECT word, COUNT(*) AS nsym FROM {final} GROUP BY word),
        dw AS (SELECT doc_id, UNNEST({toks}) AS word FROM {docs_rel})
        SELECT doc_id,
               COUNT(*) AS n_words,
               CAST(SUM(length(word)) AS BIGINT) AS n_chars_tokenized,
               CAST(SUM(nsym) AS BIGINT) AS n_symbols
        FROM dw JOIN wsym USING (word)
        GROUP BY doc_id
    """


#: Replay folds stacked per checkpointed batch on the OOV apply path —
#: bounds the projection-chain expression depth at O(fold_batch) so a
#: 32k-rule production replay builds 500 bounded plans instead of one
#: 32k-projection expression tree (analyzer/optimizer time and codegen
#: size are superlinear in expression depth). Gate-scale replays
#: (n_merges ≤ the batch) never checkpoint — plan unchanged.
_BPE_FOLD_BATCH = 64


def bpe_apply_oov_token_counts(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    n_merges: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    fold_batch: int = _BPE_FOLD_BATCH,
) -> DataFrame:
    """Apply TRAIN-corpus BPE merges to an EVAL corpus that may contain
    words the training never saw — the production tokenizer shape
    (:func:`bpe_apply_token_counts` only covers the training corpus by
    vocabulary lookup; a deployed tokenizer meets new words every
    batch). The char-fallback is BPE's own: EVERY eval-vocabulary word
    (in-vocab or OOV) starts as its character stream and REPLAYS the
    learned rules in merge-rank order, one leftmost-greedy pass per
    rule — exactly the evolution training applied, so in-vocab words
    reproduce their trained symbol streams bit-for-bit (pinned by
    test) and OOV words degrade gracefully toward characters, merging
    only where a learned rule matches.

    Distributed shape: training cost is :func:`bpe_train_merges`
    (one corpus tokenize + |vocab|-bounded merge rounds); application
    adds ``n_merges`` PER-ROW fold projections over the EVAL
    vocabulary (one row per word carrying its symbol array — no
    shuffle, no window) and one hash join of the (doc, word) stream
    against the |eval vocab| symbol counts — the corpus itself never
    carries symbol rows. The learned rules ride 1-row broadcasts per
    round (the trained-winner pattern).

    Returns (doc_id, n_words, n_chars_tokenized, n_symbols) over the
    EVAL set; eval docs whose tokenization is empty drop out.
    """
    if fold_batch < 1:
        # 0 would divide by zero mid-replay and a negative batch would
        # silently never cut the fold stack — fail loudly at entry
        raise ValueError(f"fold_batch must be >= 1, got {fold_batch}")
    # the rules live on the driver; the scope frees every train-side
    # round block set immediately
    with ckpt.scope():
        _, _, rules = _bpe_train_full(
            train, n_merges=n_merges, text_col=text_col
        )
    dw = eval_docs.select(
        id_col,
        F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("word"),
    )
    surv = (
        dw.select("word")
        .distinct()
        .select(
            "word",
            F.expr(
                "transform(sequence(1, length(word)), "
                "p -> substring(word, p, 1))"
            ).alias("syms"),
        )
    )
    # replay the learned rules in rank order as STACKED literal folds —
    # pure per-row projections over the eval vocabulary, fused by the
    # optimizer into the output join's plan: no per-round broadcast
    # join, no per-round lineage cut, no extra jobs (r16; the former
    # checkpoint-per-rule replay cost one block set + one job per
    # rule). Every ``fold_batch`` folds the stack is cut with an EAGER
    # localCheckpoint (r16 verdict item 6): expression depth stays
    # O(fold_batch) — a 32k-rule replay is 500 bounded plans, one job
    # each over the |eval vocab| table, instead of a single 32k-deep
    # expression tree the analyzer/codegen choke on. EAGER because the
    # single-consumer chain makes lazy legal but eager also releases
    # the superseded batch immediately (block residue ~1 batch, not
    # n_merges/fold_batch). The last cut is read by the returned plan,
    # so the caller's scope owns it. Gate-scale replays (n_merges ≤
    # fold_batch) never hit the cut — identical plan, zero extra jobs.
    prev_cut: DataFrame | None = None
    for i, (_rank, left_sym, right_sym, _cnt) in enumerate(rules, 1):
        surv = surv.select(
            "word", F.expr(_bpe_fold_expr(left_sym, right_sym)).alias("syms")
        )
        if i % fold_batch == 0 and i < len(rules):
            surv = ckpt.checkpoint(surv)
            ckpt.release(prev_cut)
            prev_cut = surv
    wsym = surv.select("word", F.size("syms").alias("_nsym"))
    return (
        dw.join(wsym, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars_tokenized"),
            F.sum("_nsym").alias("n_symbols"),
        )
    )


def bpe_apply_oov_token_counts_sql(
    train_rel: str = "documents",
    eval_rel: str = "documents",
    *,
    n_merges: int = 3,
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`bpe_apply_oov_token_counts`:
    training CTEs from :func:`bpe_train_merges_sql` (winners w1..wN),
    then the same unrolled islands replay over the EVAL vocabulary.
    ``eval_rel`` may be any relation/subquery with (doc_id, text)."""
    ctes, _final = bpe_train_merges_sql(
        train_rel, n_merges=n_merges, text_col=text_col, ctes_only=True
    )
    toks = (
        "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    ).format(col=text_col)
    apply_ctes = [
        f"ev AS (SELECT doc_id, UNNEST({toks}) AS word FROM {eval_rel})",
        """a0 AS (SELECT word, i AS pos, substr(word, i, 1) AS sym
               FROM (SELECT DISTINCT word FROM ev),
                    UNNEST(generate_series(1, length(word))) AS u(i))""",
    ]
    prev = "a0"
    for r in range(1, n_merges + 1):
        apply_ctes.append(
            f"""ak{r} AS MATERIALIZED (SELECT word,
                   row_number() OVER (PARTITION BY word ORDER BY pos) AS k,
                   sym FROM {prev})"""
        )
        apply_ctes.append(
            f"""aadj{r} AS MATERIALIZED (SELECT *, lead(sym) OVER (
                   PARTITION BY word ORDER BY k) AS nxt FROM ak{r})"""
        )
        apply_ctes.append(
            f"""amt{r} AS (SELECT a.*, (a.sym = w.l AND a.nxt = w.r2) AS mat
                   FROM aadj{r} a LEFT JOIN w{r} w ON TRUE)"""
        )
        apply_ctes.append(
            f"""arun{r} AS (SELECT *, CASE WHEN mat THEN
                   k - row_number() OVER (PARTITION BY word, mat ORDER BY k)
                   END AS grp FROM amt{r})"""
        )
        apply_ctes.append(
            f"""amg{r} AS (SELECT *, mat AND ((row_number() OVER (
                   PARTITION BY word, grp ORDER BY k) - 1) % 2 = 0)
                   AS merged FROM arun{r})"""
        )
        apply_ctes.append(
            f"""ac{r} AS (SELECT *, COALESCE(lag(merged) OVER (
                   PARTITION BY word ORDER BY k), FALSE) AS consumed
                   FROM amg{r})"""
        )
        apply_ctes.append(
            f"""a{r} AS MATERIALIZED (SELECT word, k AS pos,
                   CASE WHEN merged THEN sym || nxt ELSE sym END AS sym
                   FROM ac{r} WHERE NOT consumed)"""
        )
        prev = f"a{r}"
    joined = ",\n        ".join([ctes] + apply_ctes)
    return f"""
        WITH {joined},
        wsym AS (SELECT word, COUNT(*) AS nsym FROM {prev} GROUP BY word)
        SELECT doc_id,
               COUNT(*) AS n_words,
               CAST(SUM(length(word)) AS BIGINT) AS n_chars_tokenized,
               CAST(SUM(nsym) AS BIGINT) AS n_symbols
        FROM ev JOIN wsym USING (word)
        GROUP BY doc_id
    """
