"""Text-analysis operators for LLM training-data pipelines.

All column expressions here are JVM-side built-ins (split/regexp/
aggregate/transform) — no Python UDFs — so they run inside
whole-stage codegen and scale linearly with input size; every
operator is a narrow map over `documents` rows (zero shuffles until
an aggregation is asked for).

These go beyond the reference's surface (its only scalar functions
are cast/modulo/lowercase — reference tools/ReadParquet.scala:138,
utils/SkewedDataHandler.scala:55) and implement the training-data
operators the driver brief requires: token counting, quality scoring,
language-ID heuristic, and document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small English-ish stopword list used by the quality heuristic.
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

# Marker tokens per language for the n-gram/marker language-ID
# heuristic. With real corpora these would be the top character
# n-grams per language; the principle (score = marker hit-rate,
# predict argmax) is the standard n-gram langid design.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "que", "de", "es"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3"),
}

# BPE-ish pre-tokenization: words, numbers, or single non-space marks
# (the regex shape GPT-2/tiktoken-style tokenizers use before merges).
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens(text: Column | str, sep: str = " ") -> Column:
    """Whitespace tokens of ``text`` as an array<string>."""
    return F.split(F.col(text) if isinstance(text, str) else text, sep)


def token_count(text: Column | str) -> Column:
    """Whitespace token count (JVM-side, no UDF)."""
    return F.size(tokens(text))


def regex_token_count(text: Column | str) -> Column:
    """BPE-ish token count: words / numbers / punctuation marks."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), F.lit(0)))


def stopword_ratio(
    text: Column | str, stopwords: tuple[str, ...] = STOPWORDS
) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    hits = F.size(
        F.filter(toks, lambda w: w.isin(*stopwords))
    )
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, "[.,!?;:]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0, 1]: longer documents score
    higher (saturating at 100 tokens), heavy stopword/punctuation
    density scores lower. Deterministic and SQL-expressible so the
    DuckDB oracle can replicate it exactly."""
    n_tok = token_count(text).cast("double")
    length_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return F.round(
        length_term * (F.lit(1.0) - stopword_ratio(text)) * (F.lit(1.0) - punct_ratio(text)),
        4,
    )


def lang_scores(text: Column | str) -> Column:
    """Array of (lang, score) structs: score = marker-token hit count
    normalized by token count, one entry per known language."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    entries = [
        F.struct(
            (F.size(F.filter(toks, lambda w: w.isin(*markers))) / n).alias(
                "score"
            ),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in LANG_MARKERS.items()
    ]
    return F.array(*entries)


def predicted_lang(text: Column | str, min_score: float = 0.0) -> Column:
    """Argmax language by marker score; 'unknown' when every score is
    ≤ ``min_score``. Ties resolved by lang name ascending (the struct
    sort compares (score, lang) and we take the last element)."""
    scores = F.sort_array(lang_scores(text))
    best = F.element_at(scores, -1)
    return F.when(best["score"] > min_score, best["lang"]).otherwise(
        F.lit("unknown")
    )


def fingerprint_md5(text: Column | str) -> Column:
    """Content fingerprint: md5 hex of the raw text (cheap exact-dup
    key; identical in DuckDB for oracle checks)."""
    return F.md5(F.col(text) if isinstance(text, str) else text)


def shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of a token array (the unit of
    Jaccard/MinHash similarity). Built from sequence+transform+slice —
    all codegen'd, no UDF."""
    joined = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return F.array_distinct(joined)


def rolling_fingerprint(text: Column | str, k: int = 3) -> Column:
    """Winnowing-style fingerprint: the minimum 64-bit hash over all
    k-token shingles — robust to small edits in a way md5 is not.
    (xxhash64 is Spark-side only; queries using this get the driver's
    rows-only check.)"""
    sh = shingles(tokens(F.lower(F.col(text) if isinstance(text, str) else text)), k)
    return F.array_min(F.transform(sh, lambda s: F.xxhash64(s)))


def doc_token_stats(documents: DataFrame) -> DataFrame:
    """Per-document token statistics (doc_id, lang, n_chars_calc,
    n_tokens, n_tokens_bpe, avg_token_len)."""
    return documents.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_calc"),
        token_count("text").alias("n_tokens"),
        regex_token_count("text").alias("n_tokens_bpe"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.greatest(token_count("text"), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


def doc_quality(documents: DataFrame) -> DataFrame:
    """Per-document quality signals (doc_id, n_tokens, stop_ratio,
    punct_ratio, quality)."""
    return documents.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(stopword_ratio("text"), 4).alias("stop_ratio"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


def doc_lang_id(documents: DataFrame) -> DataFrame:
    """Language-ID heuristic output (doc_id, lang, predicted_lang,
    en_score) — `lang` kept so downstream can measure agreement."""
    return documents.select(
        "doc_id",
        "lang",
        predicted_lang("text").alias("predicted_lang"),
        F.round(
            F.element_at(
                F.filter(lang_scores("text"), lambda s: s["lang"] == "en"), 1
            )["score"],
            4,
        ).alias("en_score"),
    )


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Per-document fingerprints: exact (md5) and edit-tolerant
    (rolling min-hash over 3-token shingles)."""
    return documents.select(
        "doc_id",
        fingerprint_md5("text").alias("fp_md5"),
        rolling_fingerprint("text").alias("fp_rolling"),
    )


def doc_chunks(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    every RAG / long-document-pretraining pipeline runs: split each
    document into chunks of ``chunk_tokens`` whitespace tokens, with
    consecutive chunks overlapping by ``overlap_tokens`` (stride =
    chunk − overlap).

    Chunk-count rule: ``max(1, ceil((n − overlap) / stride))`` — every
    token is covered, every chunk starts ``stride`` tokens after the
    previous one, a document shorter than one chunk still yields its
    single (short) chunk, and no tail chunk is ever fully contained in
    its predecessor.

    Plan shape at 100 TB: one narrow projection computes the token
    array and chunk count, one generator (explode of a ``sequence``)
    expands rows EXECUTOR-SIDE, and the chunk text is a codegen'd
    ``slice`` + ``array_join`` — zero shuffles, zero Python, and the
    expansion factor is bounded by document length over stride. The
    reference has no sub-document operator at all (its row unit is
    fixed — tools/ReadParquet.scala); this is the driver brief's
    training-data surface.
    """
    if chunk_tokens <= overlap_tokens:
        raise ValueError(
            f"chunk_tokens ({chunk_tokens}) must exceed overlap_tokens "
            f"({overlap_tokens}) or the window never advances"
        )
    stride = chunk_tokens - overlap_tokens
    toks = tokens(F.col(text_col))
    # integer ceil((n - overlap)/stride); doubles are exact here
    # (token counts ≪ 2^53) so floor(x/y) == x // y
    n_chunks = F.greatest(
        F.floor(
            (F.size(toks) - F.lit(overlap_tokens) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("int"),
        F.lit(1),
    )
    expanded = documents.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("int").alias("chunk_start"),
        F.slice(
            "__toks", F.col("chunk_idx") * stride + 1, F.lit(chunk_tokens)
        ).alias("__chunk"),
    )
    return expanded.select(
        id_col,
        "chunk_idx",
        "chunk_start",
        F.size("__chunk").alias("n_chunk_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"),
    )


def doc_tfidf_keywords(
    documents: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` keywords per document by tf-idf — the classic
    keyword-extraction / topic-signal pass (idf = ln(N/df), raw tf).

    Plan shape at 100 TB: one explode feeds a partial-aggregated
    (doc, term) count; document frequency is a second combiner-reduced
    groupBy of that SAME frame (vocabulary-sized output — Zipf), which
    BROADCASTS back onto it along with the 1-row corpus size; the
    final per-doc top-k is a WindowGroupLimit-pruned row_number. Two
    shuffles on the big side, both map-side combined; no Python.

    Ranking ties (and cross-engine float drift in ln) are resolved by
    ordering on the ROUNDED score then the term, so the emitted ranks
    are reproducible by the DuckDB oracle bit-for-bit.
    """
    from pyspark.sql import Window

    toks = documents.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


BM25_K1 = 1.2
BM25_B = 0.75


def doc_bm25_topk(
    documents: DataFrame,
    queries: dict[str, str],
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents per query by BM25 (Robertson/Okapi) — the
    retrieval scorer behind every lexical search stack, and the
    sparse half of hybrid retrieval next to the ANN family
    (`similarity.py`). idf = ln(1 + (N − df + 0.5)/(df + 0.5))
    (always positive); tf saturation k1, length normalization b.

    Plan shape at 100 TB: one explode feeds the (doc, term) counts;
    doc length is the size of each row's token array (no aggregate);
    document frequency is its vocabulary-sized (Zipf)
    second aggregate, broadcast back. The QUERY terms broadcast-join
    first, so everything after the postings filter is sized by docs
    that match ≥1 query term, not the corpus; the doc-length join is
    a doc-keyed equi-join against that matched set. Final per-query
    top-k is a WindowGroupLimit-pruned row_number over a
    queries-sized partition space. Ranks order on the ROUNDED score
    then doc id, so the oracle reproduces them bit-for-bit.

    Output: (query_id, doc_id, score, rank).
    """
    spark = documents.sparkSession
    qterms = spark.createDataFrame(
        [
            (qid, t)
            for qid, q in sorted(queries.items())
            for t in sorted(set(q.lower().split()))
        ],
        "query_id string, term string",
    )
    return bm25_topk_terms(
        documents, qterms, k=k, k1=k1, b=b,
        text_col=text_col, id_col=id_col,
    )


def bm25_topk_terms(
    documents: DataFrame,
    qterms: DataFrame,
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_self: bool = False,
) -> DataFrame:
    """:func:`doc_bm25_topk`'s kernel with the query terms as a
    DataFrame (query_id string, term string) — the form
    query-by-example retrieval needs, where the "query" is a
    document's own distinct terms (``exclude_self`` then drops the
    trivial self-match by id equality). ``qterms`` must be small
    enough to broadcast (it is the query workload, not data)."""
    tf, dl, df_, corpus = _bm25_frames(documents, text_col, id_col)
    return _bm25_score_terms(
        tf, dl, df_, corpus, qterms, k, k1, b, id_col, exclude_self
    )


def _bm25_frames(
    documents: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The BM25 serving state as four frames: postings (id, term, tf),
    doc lengths (id, dl), term document-frequencies (term, df), and
    the 1-row corpus stats (__n, __avgdl). ``tf`` is the only
    (doc, term) aggregation; ``df`` re-aggregates it, while ``dl`` is
    the size of each document row's token array (documents with no
    token, i.e. NULL text, are left out, as the explode leaves them
    out of ``tf``), so doc lengths cost no shuffle of the postings.
    A document is a row: ``id_col`` must be unique. ALSO the exact
    state :func:`bm25_build_index` persists — one definition, so the
    rebuild-now and serve-from-index paths cannot drift."""
    toks = tokens(F.lower(F.col(text_col)))
    tf = (
        documents.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = documents.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("dl")
    ).where(F.col("dl") > 0)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("dl").alias("__avgdl"),
    )
    return tf, dl, df_, corpus


def _bm25_score_terms(
    tf: DataFrame,
    dl: DataFrame,
    df_: DataFrame,
    corpus: DataFrame,
    qterms: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Scoring kernel over the BM25 state frames — shared by the
    rebuild-now path (:func:`bm25_topk_terms`) and the persisted-index
    path (:func:`bm25_topk_from_index`)."""
    from pyspark.sql import Window

    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (
        F.col("tf")
        * (F.lit(k1) + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0)
                - F.lit(b)
                + F.lit(b) * F.col("dl") / F.col("__avgdl")
            )
        )
    )
    # df only matters for query terms — semi-filter the vocab-sized
    # frame down to |query terms| rows BEFORE broadcasting it
    df_q = df_.join(
        F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
    )
    matched = tf.join(F.broadcast(qterms), "term")
    if exclude_self:
        matched = matched.where(
            F.col("query_id") != F.col(id_col).cast("string")
        )
    scored = (
        matched.join(dl, id_col)
        .join(F.broadcast(df_q), "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum(idf * tf_part), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bm25_build_index(
    documents: DataFrame,
    index_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Persist the BM25 serving state as VERSIONED tables under
    ``index_root`` — the lexical twin of the persisted IVF quantizer
    (`similarity.py`): ``postings`` (id, term, tf), ``doclen``,
    ``termdf``, and the 1-row ``stats``, each a txlog table (zone
    maps on the postings' term hash would be the next knob). Build
    once per corpus version; query-time then touches the INDEX, never
    the raw text — re-tokenizing 100 TB per query workload is the
    cost this removes, and versioned commits mean index rebuilds are
    time-travelable and exactly-once-publishable like any other
    table. Returns {table_name: committed_version} including the
    ``manifest`` entry.

    ATOMICITY across the quadruple (VERDICT r9 order #4): the four
    component commits are individually atomic but collectively not —
    a reader racing a rebuild could otherwise pin postings@v4 against
    termdf@v3. So the build finishes with ONE commit to a MANIFEST
    table (rows = component → pinned version): readers resolve
    component versions THROUGH the manifest head (or a given manifest
    version for point-in-time retrieval), so they see the old
    quadruple or the new one, never a mix — the manifest's O_EXCL
    publish is the linearization point, exactly a multi-table
    transaction log scoped to this index. A crash between component
    commits and the manifest publish strands only unreferenced
    component versions (the old manifest still pins a consistent
    quadruple); component-commit races with a concurrent rebuild
    retry like any optimistic writer, and the LAST manifest publish
    wins with its own components pinned."""
    from parquet_combiner_spark.tools import txlog

    tf, dl, df_, corpus = _bm25_frames(documents, text_col, id_col)
    out = {}
    for name, frame in (
        ("postings", tf),
        ("doclen", dl),
        ("termdf", df_),
        ("stats", corpus),
    ):
        # a REBUILD replaces the state (appending would double-count
        # postings); every earlier index version stays time-travelable
        for attempt in range(3):
            try:
                out[name] = txlog.commit(
                    frame, f"{index_root}/{name}", action="overwrite"
                )
                break
            except txlog.CommitConflict:
                if attempt == 2:
                    raise
                continue  # concurrent rebuild took the version: next
    manifest = documents.sparkSession.createDataFrame(
        sorted(out.items()), "component string, version bigint"
    )
    for attempt in range(3):
        try:
            out["manifest"] = txlog.commit(
                manifest, f"{index_root}/manifest", action="overwrite"
            )
            break
        except txlog.CommitConflict:
            if attempt == 2:
                raise
            continue
    return out


def _bm25_manifest_pins(spark, index_root: str, version: int | None):
    """Component version pins from the index MANIFEST at ``version``
    (None = head). ``None`` return = pre-manifest index layout (built
    before the manifest existed) — callers fall back to lockstep
    component versioning, which is exactly what those builds did."""
    from parquet_combiner_spark.tools import txlog

    try:
        rows = txlog.read_table(
            spark, f"{index_root}/manifest", version
        ).collect()
    except FileNotFoundError:
        return None
    return {r["component"]: r["version"] for r in rows}


def bm25_topk_from_index(
    spark,
    index_root: str,
    qterms: DataFrame,
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    exclude_self: bool = False,
    version: int | None = None,
) -> DataFrame:
    """Serve BM25 top-k from a :func:`bm25_build_index` layout —
    snapshot reads of the four state tables through the SAME scoring
    kernel as the rebuild-now path, so the two answers are identical
    by construction (parity pytest).

    ``version`` is the MANIFEST version (the index version): the
    manifest resolves it to the component-version quadruple pinned by
    that rebuild, so a reader racing a rebuild — or time-traveling —
    always scores against a CONSISTENT index state, never
    postings-from-one-build against termdf-from-another. Indexes
    built before the manifest existed (no manifest table) fall back
    to lockstep component versions — the layout those builds wrote."""
    from parquet_combiner_spark.tools import txlog

    pins = _bm25_manifest_pins(spark, index_root, version)
    load = lambda n: txlog.read_table(  # noqa: E731
        spark,
        f"{index_root}/{n}",
        pins[n] if pins is not None else version,
    )
    return _bm25_score_terms(
        load("postings"),
        load("doclen"),
        load("termdf"),
        load("stats"),
        qterms,
        k,
        k1,
        b,
        id_col,
        exclude_self,
    )


# PII patterns restricted to syntax with IDENTICAL semantics in Java
# regex (Spark) and RE2 (DuckDB): character classes, bounded repeats,
# \b word boundaries — no backreferences, no lookaround. Application
# order matters where surface forms overlap (an SSN is also a
# dash-separated digit run), so scrubbing applies them in THIS dict
# order in both engines: email, ssn, phone, ipv4.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def pii_counts(text: Column | str) -> list[Column]:
    """One count column per PII pattern (n_email, n_ssn, ...), each a
    codegen'd regexp_extract_all size — no Python."""
    c = F.col(text) if isinstance(text, str) else text
    return [
        F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(
            f"n_{name}"
        )
        for name, (pat, _) in PII_PATTERNS.items()
    ]


def pii_scrub(text: Column | str) -> Column:
    """Redact all PII patterns from ``text``, applying the patterns in
    ``PII_PATTERNS`` order (each replacement token contains no digits
    or '@', so later patterns cannot match inside earlier redactions)."""
    c = F.col(text) if isinstance(text, str) else text
    for _, (pat, token) in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, token)
    return c


def doc_pii_scrub(documents: DataFrame) -> DataFrame:
    """PII detection + redaction — the compliance pass every
    training-data pipeline runs before release: count per-pattern
    matches (emails, SSNs, phones, IPv4s) and emit the scrubbed text.

    Plan shape at 100 TB: a single narrow projection — every pattern
    is a codegen'd regexp over the same row, zero shuffles, zero
    Python. The full scrubbed text rides in the output so the oracle
    hash pins BOTH directions: redaction where PII exists, and
    byte-identical pass-through where it does not (an over-matching
    pattern corrupting clean text is the failure mode that silently
    destroys a corpus).
    """
    return documents.select(
        "doc_id",
        *pii_counts("text"),
        pii_scrub("text").alias("clean_text"),
    )


# Cleaning regexes with identical Java-regex/RE2 semantics: control
# and zero-width characters (the web-scrape artifacts that corrupt
# tokenizers), then runs of whitespace. Order matters: control chars
# become nothing FIRST so "a\x00 b" collapses to one space, not two.
CLEAN_CTRL_REGEX = (
    # \x{...} escapes, not \uFFFF: Java regex accepts both, RE2 only
    # the brace form — one spelling that parses identically in both
    "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f"
    "\\x{200b}\\x{200c}\\x{200d}\\x{feff}]"
)
CLEAN_WS_REGEX = "[ \\t\\r\\n]+"


def clean_text(text: Column | str) -> Column:
    """Corpus text normalization: strip control/zero-width characters,
    collapse whitespace runs to single spaces, trim — the cleaning
    pass every web-scrape pipeline runs before tokenization. Pure
    codegen'd regexp_replace chain, no Python. (Unicode NFC/NFKC
    normalization is deliberately out of scope here: Spark SQL has no
    built-in for it, and a per-row Python crossing for normalization
    belongs in an Arrow-batched mapInPandas like the multimodal
    family — add it there if a corpus actually needs it.)"""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, CLEAN_CTRL_REGEX, "")
    c = F.regexp_replace(c, CLEAN_WS_REGEX, " ")
    return F.trim(c)


def doc_clean_text(documents: DataFrame) -> DataFrame:
    """Cleaning pass output: (doc_id, cleaned text, chars removed).
    Like the PII scrub, the full cleaned text rides in the output so
    the oracle hash pins BOTH directions — normalization where
    artifacts exist, byte-identical pass-through where they don't."""
    cleaned = clean_text("text")
    return documents.select(
        "doc_id",
        cleaned.alias("clean_text"),
        (F.length("text") - F.length(cleaned)).alias("n_removed"),
    )


# Terms chosen to actually OCCUR in the synthetic corpus so the
# flagged set is non-empty under the oracle; a production blocklist
# drops in the same way (the operator broadcasts it regardless).
BLOCKLIST_TERMS = ("spark", "hash", "shuffle")


def doc_blocklist_flags(
    documents: DataFrame,
    terms: tuple[str, ...] = BLOCKLIST_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocklist screening — the C4-style "bad word" filter: flag each
    document containing any blocklist term as a whitespace token,
    with the distinct matched terms and total hit count.

    Plan shape at 100 TB: the blocklist ships as an array LITERAL in
    the plan (the broadcast degenerate case — zero bytes shuffled),
    and the screen is one narrow codegen'd projection:
    array_intersect for the matched terms, a filter-size for the hit
    count. For blocklists too large to inline (millions of phrases),
    switch to the explode + broadcast-join formulation the dedup
    family uses; token-level screens at web scale rarely need it.

    Output: flagged docs only — (id, n_hits, hit_terms) with
    hit_terms sorted ascending and comma-joined so the row hashes
    identically across engines.
    """
    toks = tokens(F.lower(F.col(text_col)))
    lit_terms = F.array(*[F.lit(t) for t in terms])
    hits = F.array_sort(F.array_intersect(F.array_distinct(toks), lit_terms))
    n_hits = F.size(F.filter(toks, lambda w: w.isin(*terms)))
    return (
        documents.select(
            F.col(id_col),
            n_hits.alias("n_hits"),
            F.array_join(hits, ",").alias("hit_terms"),
        )
        .where(F.col("n_hits") > 0)
    )


def doc_unigram_logprob(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model scoring — the engine's stand-in for the
    KenLM perplexity filter every web-scale pipeline runs (CCNet/
    Gopher): score each document by the mean log-probability of its
    tokens under the CORPUS'S OWN unigram distribution. Documents of
    improbable gibberish score very negative; documents of pure
    high-frequency filler score near the corpus ceiling — both tails
    are what perplexity filtering trims.

    Plan shape at 100 TB: one explode + partial-aggregated count
    builds the unigram table (vocabulary-sized, ≪ corpus — Zipf),
    which then BROADCASTS onto the exploded token stream; the
    per-document mean is a second partial-aggregated groupBy. Two
    shuffles total, both combiner-reduced; no Python anywhere.

    Output: (id, n_tokens, avg_logp) with avg_logp =
    round(avg(ln(count(w)/total)), 4) — every token contributes,
    including repeats (that is what a language model scores).
    """
    toks = documents.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # total tokens = sum over the vocabulary — derived from the SAME
    # aggregate and broadcast as a 1-row frame (the quartiles
    # pattern), keeping the operator fully lazy instead of paying an
    # eager count() scan of the corpus at construction time
    total = vocab.agg(F.sum("cnt").cast("double").alias("__total"))
    scored = toks.join(F.broadcast(vocab), "w").crossJoin(
        F.broadcast(total)
    ).select(
        id_col,
        F.log(F.col("cnt") / F.col("__total")).alias("logp"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("logp"), 4).alias("avg_logp"),
    )


def doc_bigram_logprob(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
) -> DataFrame:
    """Bigram language-model scoring with add-alpha smoothing — the
    step up from :func:`doc_unigram_logprob` toward the KenLM
    perplexity filter (CCNet/Gopher): each document scored by the
    mean conditional log-probability of its token bigrams under the
    corpus's own bigram distribution,

        logP(w2|w1) = ln((c(w1 w2) + alpha) / (c(w1) + alpha·V))

    where c(w1) is w1's count as a bigram CONTEXT (tokens except each
    document's last) and V the context vocabulary size — so unseen
    continuations get smoothed mass instead of -inf, and word-salad
    documents (every unigram common, transitions improbable) now
    score low where the unigram model cannot see past frequency.

    Plan shape at 100 TB: bigram emission is the MinHash slice-zip
    idiom — two shifted slices of the token array zipped and exploded,
    a pure map, no lambda per element, no window. The bigram table is
    one partial-aggregated groupBy; its context marginals derive from
    THAT table (vocabulary-sized input, not a second corpus pass); V
    rides as a broadcast 1-row frame. The probe join is left to AQE:
    bigram vocabularies are Zipf-bounded far below the corpus, so it
    broadcasts in practice, and degrades to ONE hash shuffle of the
    pair stream when a corpus outgrows that — either way the final
    per-document mean partial-aggregates map-side. Smoothing
    constants are plan literals.

    Output: (id, n_bigrams, avg_logp) — documents with fewer than two
    tokens have no bigrams and no row (the unigram scorer's ≥1-token
    convention, one order up)."""
    toks = tokens(F.lower(F.col(text_col)))
    n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(toks, 1, n_pairs), F.slice(toks, 2, n_pairs)
    )
    pairs = documents.select(
        F.col(id_col), F.explode(zipped).alias("p")
    ).select(id_col, F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vsize = uni.agg(F.count(F.lit(1)).cast("double").alias("__v"))
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(F.broadcast(uni), ["w1"])
        .crossJoin(F.broadcast(vsize))
        .select(
            id_col,
            F.log(
                (F.col("c12") + F.lit(alpha))
                / (F.col("c1") + F.lit(alpha) * F.col("__v"))
            ).alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("avg_logp"),
    )


# ---------------------------------------------------------------------------
# BPE tokenization (merges table as plan literals)
# ---------------------------------------------------------------------------

# An ordered BPE merge table (the learned artifact a real tokenizer
# ships — here a hand-built English-ish table exercising multi-level
# merges: "ing" needs "in" first, "the" needs "th"). In production
# the table is the tokenizer's merges.txt loaded at plan-build time;
# either way it enters the plan as LITERALS, so the whole encoder is
# a codegen'd expression chain — no UDF, no shuffle, no driver loop.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("i", "n"), ("a", "n"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"), ("e", "s"),
    ("s", "t"), ("a", "l"), ("a", "r"), ("l", "e"), ("th", "e"),
    ("an", "d"), ("in", "g"), ("t", "o"), ("o", "f"), ("i", "s"),
    ("i", "t"), ("o", "u"), ("s", "e"), ("v", "e"), ("c", "k"),
    ("q", "u"), ("qu", "er"), ("b", "le"), ("ta", "ble"),
    ("t", "a"), ("w", "in"), ("win", "d"), ("r", "o"), ("ro", "w"),
)


def bpe_encode_spaced(text: Column | str) -> Column:
    """The classic space-delimited BPE encoder as ONE expression
    chain: every character becomes a space-separated symbol (word
    boundaries become multi-space runs no single-space merge pattern
    can cross), then each merge ``(a, b)`` rewrites ``' a b '`` →
    ``' ab '`` in table order. Each merge is applied as TWO replace
    passes: a left-to-right replace consumes the trailing space of a
    match, so immediately repeated pairs (" x y x y ") leave an
    unmerged straggler the second pass catches — the deterministic
    two-pass rule is part of the operator's spec and is reproduced
    verbatim by the SQL oracle (replace() composes identically).

    Returns the merged spaced-symbol string; count symbols with
    :func:`bpe_token_count`. Sentinel spaces pad both ends so every
    symbol, including the first and last, has the delimiters the
    merge patterns require."""
    spaced = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(text), "(.)", "$1 "),
    )
    for a, b in BPE_MERGES:
        pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        spaced = F.replace(F.replace(spaced, pat, rep), pat, rep)
    return spaced


def bpe_token_count(merged: Column) -> Column:
    """Symbols remaining after the merges = BPE token count (split on
    whitespace runs, empties discarded)."""
    toks = F.filter(
        F.split(F.trim(merged), "\\s+"), lambda x: x != F.lit("")
    )
    return F.size(toks).cast("long")


def doc_bpe_token_stats(documents: DataFrame) -> DataFrame:
    """Per-document BPE tokenization stats: word count, non-space
    character count, BPE token count under :data:`BPE_MERGES`, and
    chars-per-token (the compression ratio tokenizer quality is
    judged by). The whole computation is a narrow codegen'd
    projection — the merges are plan literals, so the same table
    drives the DuckDB oracle and the result is hash-checkable."""
    lt = F.lower(F.col("text"))
    words = F.filter(
        F.split(F.trim(lt), "\\s+"), lambda x: x != F.lit("")
    )
    n_tokens = bpe_token_count(bpe_encode_spaced(F.col("text")))
    n_chars = F.length(F.regexp_replace(lt, "\\s", "")).cast("long")
    return documents.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_bpe_tokens"),
        F.when(
            n_tokens > 0, F.round(n_chars / n_tokens, 4)
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# BPE merge TRAINING (distributed, word-histogram collapsed)
# ---------------------------------------------------------------------------


def word_histogram(
    documents: DataFrame,
    text_col: str = "text",
    max_vocab: int | None = None,
) -> DataFrame:
    """Lowercased whitespace pre-token histogram — the ONLY
    corpus-scale pass BPE training needs. Classic BPE trainers
    (Sennrich et al. 2016; SentencePiece/HF follow suit) never
    iterate over the corpus: they pre-tokenize once, collapse
    identical words, and train on (word, count). At 100 TB that is
    the whole scale story — one combiner-reduced groupBy shuffles
    vocabulary-sized partials (~1e6-1e8 rows), and every training
    round after it touches only this bounded frame.

    ``max_vocab`` keeps the top-N words by (count desc, word asc) —
    a frequency floor real trainers apply; the tie-break keeps the
    cut deterministic. Output: (w, cnt).
    """
    words = documents.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), "\\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("w")
    )
    hist = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    if max_vocab is not None:
        # deterministic top-N cut; vocab-sized sort, not corpus-sized
        hist = hist.orderBy(
            F.col("cnt").desc(), F.col("w").asc()
        ).limit(int(max_vocab))
    return hist


def _merge_adjacent(syms: Column, left: str, right: str) -> Column:
    """Rewrite one learned pair inside a symbol array: every
    leftmost-first non-overlapping (left, right) adjacency becomes
    the concatenated symbol — the exact left-to-right greedy rule a
    BPE encoder applies, expressed as a single fold. The accumulator
    ends with ``left`` and the next element is ``right`` ⇒ replace
    the tail; a just-produced merge can't cascade because the merged
    symbol ``left+right`` never equals ``left`` (``right`` is
    non-empty). Interpreted per element (higher-order function), but
    it only ever runs over the vocabulary frame — never the corpus.
    """
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train_merges(
    documents: DataFrame,
    num_merges: int = 30,
    text_col: str = "text",
    max_vocab: int | None = None,
    min_pair_count: int = 2,
) -> DataFrame:
    """Train a BPE merge table on a corpus (Sennrich et al. 2016),
    distributed the way production tokenizer trainers are: ONE
    corpus pass builds the word histogram
    (:func:`word_histogram`), then each merge round runs entirely on
    that vocabulary-bounded frame — explode adjacent symbol pairs
    weighted by word count, partial-aggregate to (pair, count), take
    the 1-row argmax (count desc, then lexicographic pair — the
    deterministic tie-break), and rewrite the winning pair into the
    symbol arrays with :func:`_merge_adjacent`. The per-round driver
    fetch is a single row (the PageRank bounded-metadata pattern)
    and ``localCheckpoint`` truncates the growing fold lineage every
    few rounds, so ``num_merges`` rounds cost O(rounds) small jobs
    after the one corpus shuffle — no suffix arrays, no per-round
    corpus scans, no Python in the data path.

    Stops early when no pair reaches ``min_pair_count``. Returns the
    learned table ordered by rank: (rank, left, right, merged,
    pair_count) — the artifact :func:`bpe_encode_spaced` ships as
    plan literals.
    """
    spark = documents.sparkSession
    vocab = word_histogram(
        documents, text_col=text_col, max_vocab=max_vocab
    ).select(
        F.split("w", "").alias("syms"),
        F.col("cnt").cast("long").alias("cnt"),
    )
    vocab = vocab.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, int(num_merges) + 1):
        pairs = vocab.where(F.size("syms") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2), "
                    "i -> struct(syms[i] AS a, syms[i + 1] AS b))"
                )
            ).alias("p"),
            "cnt",
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["pc"] < min_pair_count:
            break
        a, b, pc = top[0]["a"], top[0]["b"], int(top[0]["pc"])
        merges.append((rank, a, b, a + b, pc))
        vocab = vocab.select(
            _merge_adjacent(F.col("syms"), a, b).alias("syms"), "cnt"
        )
        if rank % 5 == 0:
            # truncate the fold-upon-fold lineage before it makes
            # planning itself the bottleneck
            vocab = vocab.localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, "
        "pair_count bigint",
    )
