"""Text analysis operators: token stats, quality scoring, language ID,
fingerprinting. All pure JVM expressions (no Python in the row path) — these
run at full whole-stage-codegen speed over any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_to_ibis_spark.operators.dedup import normalized_text

# small, deterministic stopword inventories for the language-ID heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "para", "con"],
}


def _trunc(col: Column, digits: int) -> Column:
    """Truncate a double to ``digits`` decimals via floor-scaling.

    Used instead of ``round`` for oracle-compared outputs: IEEE multiply +
    floor is bit-identical across engines, while round-half behavior on
    doubles differs between Spark (BigDecimal HALF_UP) and other engines
    at representable half-boundaries (e.g. 1/128 * 1e6 = 7812.5 exactly).
    """
    scale = float(10 ** digits)
    return F.floor(col * scale) / scale


def token_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count, char count, alphabetic-character ratio.

    Formulations measured and REJECTED at sf10 (r15, interleaved
    noop-sink best-of-3, results verified identical): alpha count via
    ``translate``-delete of the 52 letters 2.73 s vs 2.26 s for this
    regex char-class (the per-char map lookup rebuilds the string and
    loses to Java regex's compiled class scan on mostly-letter text);
    ``regexp_count(trim(t), '\\s+') + 1`` for n_tokens 2.47 s (a second
    full regex pass costs more than split's array allocation)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.split(F.trim(t), r"\s+")).cast("bigint").alias("n_tokens"),
        F.length(t).cast("bigint").alias("n_chars_actual"),
        F.round(
            F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("double")
            / F.nullif(F.length(t), F.lit(0)),
            6,
        ).alias("alpha_ratio"),
    )


def bpe_ish_token_count(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Sub-word-ish token count via a GPT-2-style pre-tokenizer regex
    (words / numbers / punctuation runs / whitespace runs counted
    separately). Purely an upper-bound estimator — no merges table."""
    pattern = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
    return df.select(
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("bigint")
        .alias("word_tokens"),
        F.regexp_count(F.col(text_col), F.lit(pattern)).cast("bigint")
        .alias("bpe_ish_tokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality features + composite score in [0, 1]:
    length band, punctuation density, stopword ratio, mean word length.
    The kind of gate a pretraining pipeline runs before dedup."""
    t = F.col(text_col)
    tokens = F.split(normalized_text(t), " ")
    n_tokens = F.size(tokens)
    n_chars = F.length(t)
    punct_ratio = (F.length(F.regexp_replace(t, r"[^\p{Punct}]", "")).cast("double")
                   / F.nullif(n_chars, F.lit(0)))
    stop_hits = F.size(F.array_intersect(
        tokens, F.array(*[F.lit(w) for w in _STOPWORDS["en"]])))
    stop_ratio = stop_hits.cast("double") / F.nullif(n_tokens, F.lit(0)).cast("double")
    mean_word_len = (F.length(F.regexp_replace(normalized_text(t), " ", ""))
                     .cast("double") / F.nullif(n_tokens, F.lit(0)))
    alpha_ratio = (F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
                   .cast("double") / F.nullif(n_chars, F.lit(0)))
    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 100000), 1.0).otherwise(0.3)
    # continuous components so pure-symbol garbage actually scores ~0
    # (a hard 0.5 floor let 77%-punctuation docs through every gate)
    alpha_c = F.least(alpha_ratio / 0.6, F.lit(1.0))
    punct_c = F.greatest(F.lit(0.0),
                         F.least(F.lit(1.0), (F.lit(0.5) - punct_ratio) / 0.4))
    stop_c = F.least(stop_ratio / 0.04, F.lit(1.0))
    score = (length_ok * 0.3 + alpha_c * 0.3 + punct_c * 0.25 + stop_c * 0.15)
    return df.select(
        F.col(id_col),
        n_tokens.cast("bigint").alias("n_tokens"),
        _trunc(punct_ratio, 6).alias("punct_ratio"),
        _trunc(stop_ratio, 6).alias("stopword_ratio"),
        _trunc(mean_word_len, 4).alias("mean_word_len"),
        _trunc(score, 4).alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Deterministic language-ID heuristic: CJK-character detection for zh,
    otherwise argmax of stopword hits across {en,de,fr,es}. Pure JVM
    (array_intersect against literal arrays) — no model, no UDF."""
    t = F.col(text_col)
    tokens = F.split(normalized_text(t), " ")
    scores = {
        lang: F.size(F.array_intersect(
            tokens, F.array(*[F.lit(w) for w in words])))
        for lang, words in _STOPWORDS.items()
    }
    has_cjk = F.regexp_count(t, F.lit(r"[一-鿿]")) > 0
    best = F.greatest(*scores.values())
    pred = F.when(has_cjk, F.lit("zh"))
    for lang in ["en", "de", "fr", "es"]:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return df.select(
        F.col(id_col),
        pred.otherwise(F.lit("unknown")).alias("lang_pred"),
        *[F.col(c) for c in df.columns if c == "lang"],
    )


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Stable document fingerprint: md5 over normalized text (md5 chosen so
    external systems — and the DuckDB oracle — can reproduce it)."""
    return df.select(
        F.col(id_col),
        F.md5(normalized_text(F.col(text_col))).alias("fp"),
    )


def rolling_hash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    window: int = 8, keep_every: int = 16,
) -> DataFrame:
    """Winnowing-style content fingerprints: a rolling hash over each
    ``window``-token shingle, keeping hashes ≡ 0 (mod ``keep_every``) — a
    deterministic ~1/keep_every sample usable for containment detection. One
    explode, no shuffle until the caller aggregates."""
    from sql_to_ibis_spark.operators.dedup import _shingle_hashes

    kept = F.filter(_shingle_hashes(F.col(text_col), window),
                    lambda h: h % keep_every == 0)
    return df.select(
        F.col(id_col), F.explode(kept).alias("fp_hash")
    )


def term_frequencies(
    df: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus-level term frequencies: tokenize → explode → count.

    The classic shuffle-heavy corpus statistic done scale-correctly:
    map-side partial aggregation collapses each partition's term counts
    before the shuffle (so the shuffle carries |vocab| rows per partition,
    not |tokens|), and the optional top-k plans as TakeOrderedAndProject.
    """
    terms = df.select(
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("term")
    ).filter(F.col("term") != "")
    out = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    if top_k is not None:
        out = out.orderBy(F.col("n").desc(), F.col("term").asc()).limit(top_k)
    return out


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       plan: str = "docpart") -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText filter
    family, recomputed from the published definitions): per document,

    * ``top_bigram_char_frac`` — fraction of normalized characters covered
      by the single most frequent word 2-gram (``count × len(bigram) /
      n_chars``); boilerplate and keyword-stuffed pages score high.
    * ``dup_trigram_frac`` — fraction of word 3-gram occurrences that are
      repeats of an earlier occurrence (``(total − distinct) / total``).
    * ``top_bigram`` — the argmax 2-gram itself (ties broken by descending
      lexicographic order so the result is engine-deterministic).

    Scale shape (``plan="docpart"``, the default): each source row is a
    WHOLE document, so one ``repartition(doc_id)`` of the raw corpus is
    the only shuffle in the operator. ``HashPartitioning(doc)`` satisfies
    ClusteredDistribution for every downstream ``groupBy`` keyed on doc,
    so tokenization, the level-1 count aggregate, and the level-2
    aggregate all run partition-local with zero further exchanges and no
    join. docpart won because it shuffles ~1× corpus bytes where
    exchanging the level-1 n-gram counts carries every per-doc-distinct
    bigram+trigram string, ~4-5× corpus (sf10, local[32]: 6.0 s vs 18.1
    s). ``plan="nopart"`` is the same plan without the repartition, for
    inputs already bucketed on ``id_col``.

    Tokenization detail: the token array is sliced into 3 shifted views
    and exploded once per position (``explode_outer`` keeps empty docs
    as a marker row); each position row fans out to an ``(n, ngram)``
    pair per family through a 2-element struct-array explode — plain
    codegen end to end, no HOFs. (The obvious
    transform(sequence(...), i -> array_join(slice...)) formulation is
    an interpreted HOF: measured 15.4 s at sf0.1 vs 0.2 s for the slice
    shape; the token array gets its OWN projection because generators
    get no common-subexpression elimination, so inlining the regex
    would re-run it per slice — measured 14× slower.) The marker row
    makes short docs survive aggregation. The level-2 reduction is one
    fused aggregate: a join-based split would sit directly on the
    doc-partitioned subtree with no exchange between its branches, and
    the isnotnull filters pushed into one branch break AQE canonical
    matching — the corpus would be scanned and tokenized twice, with the
    doc-level tri frame broadcast (not scale-safe). No Python anywhere in
    the row path.
    """
    if plan not in ("docpart", "nopart"):
        raise ValueError(
            f"repetition_signals plan must be 'docpart' or 'nopart', "
            f"got plan={plan!r}")
    t = normalized_text(F.col(text_col))
    toks = F.split(t, " ")

    if plan == "docpart":
        # ONE exchange, of the RAW corpus: each source row is a whole
        # document, so hash-partitioning by doc_id BEFORE tokenization
        # shuffles ~1× corpus bytes, while exchanging the level-1 n-gram
        # counts would carry ~4-5× corpus (every per-doc-distinct
        # bigram+trigram string). HashPartitioning(doc) satisfies
        # ClusteredDistribution for every downstream groupBy whose keys
        # include doc_id, so the level-1 and level-2 aggs plan WITHOUT
        # further exchanges — the whole operator is one corpus-sized
        # shuffle.
        df = df.repartition(F.col(id_col))
    # plan == "nopart" (r13): identical to docpart but WITHOUT the
    # explicit repartition — for inputs whose SCAN already reports
    # HashPartitioning(doc), i.e. a documents snapshot bucketed on the
    # id column. Then the operator plans with ZERO exchanges and the
    # sf100 spill (141-152 GB on the corpus exchange, r12 memory
    # profile) disappears entirely: pay the shuffle once at snapshot
    # time, never per query. On a non-bucketed input this plan is still
    # CORRECT (Spark inserts the exchanges the groupBys need) but
    # shuffles n-gram rows instead of corpus bytes — only select it
    # when the layout guarantees the partitioning.

    pre = df.select(F.col(id_col), F.length(t).alias("__nchars"),
                    toks.alias("__tk"))
    tk = F.col("__tk")
    # one slice length for all views (positions = size-1): the trigram
    # view runs one short, arrays_zip null-pads, and the null t2 marks
    # "no trigram at this position"
    ln = F.greatest(F.size(tk) - 1, F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(tk, i + 1, ln).alias(f"t{i}") for i in range(3)])
    pos = pre.select(F.col(id_col), F.col("__nchars"),
                     F.explode_outer(zipped).alias("__z"))
    z = F.col("__z")
    bigram = F.when(z["t0"].isNotNull() & z["t1"].isNotNull(),
                    F.concat_ws(" ", z["t0"], z["t1"]))
    trigram = F.when(z["t2"].isNotNull(),
                     F.concat_ws(" ", z["t0"], z["t1"], z["t2"]))
    tagged = pos.select(
        F.col(id_col), F.col("__nchars"),
        F.explode(F.array(
            F.struct(F.lit(2).alias("n"), bigram.alias("g")),
            F.struct(F.lit(3).alias("n"), trigram.alias("g")),
        )).alias("__g"),
    ).filter(
        # drop positions without a trigram; keep ONE null-ngram marker
        # row (n=2) for docs with <2 tokens so they survive aggregation
        F.col("__g.g").isNotNull() | (F.col("__g.n") == 2)
    )

    counts = (
        tagged.groupBy(id_col, "__nchars", F.col("__g.n").alias("__n"),
                       F.col("__g.g").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Final per-doc reduction: one aggregate, no join. max(struct(cnt,
    # ngram)) is not hash-aggregable (struct/string buffers don't fit
    # HashAggregate's fixed-width slots), so this is a SortAggregate over
    # all level-1 rows; a pinned fixed-width argmax re-probed by join
    # measured slower (sf10 15.6 s vs 7.1 s). Tie-break matches the
    # oracle's ORDER BY cnt DESC, ngram DESC.
    joined = counts.groupBy(id_col, "__nchars").agg(
        F.max(F.when((F.col("__n") == 2) & F.col("ngram").isNotNull(),
                     F.struct(F.col("cnt"), F.col("ngram"))))
        .alias("__top"),
        F.sum(F.when(F.col("__n") == 3, F.col("cnt")))
        .alias("__tri_total"),
        F.count(F.when(F.col("__n") == 3, F.lit(1)))
        .alias("__tri_distinct"),
    )
    return (
        joined
        .select(
            F.col(id_col),
            F.col("__top.ngram").alias("top_bigram"),
            F.coalesce(
                _trunc(F.col("__top.cnt") * F.length("__top.ngram")
                       / F.nullif(F.col("__nchars"), F.lit(0)), 6),
                F.lit(0.0)).alias("top_bigram_char_frac"),
            F.coalesce(
                _trunc((F.col("__tri_total") - F.col("__tri_distinct"))
                       / F.nullif(F.col("__tri_total"),
                                  F.lit(0)).cast("double"), 6),
                F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


def duplicate_line_stats(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Line-level repetition signals (Gopher's duplicate-line filters):
    fraction of lines that repeat an earlier line, and fraction of
    characters inside such repeated lines. Degenerates to 0 on single-line
    corpora; meaningful on scraped multi-line text."""
    lines = F.filter(F.split(F.col(text_col), r"\n"),
                     lambda l: F.trim(l) != "")
    per_line = (
        df.select(F.col(id_col), F.explode(lines).alias("line"))
        .groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = per_line.groupBy(id_col).agg(
        _trunc((F.sum("cnt") - F.count(F.lit(1)))
               / F.nullif(F.sum("cnt"), F.lit(0)).cast("double"), 6)
        .alias("dup_line_frac"),
        _trunc(F.sum(F.when(F.col("cnt") > 1,
                            (F.col("cnt") - 1) * F.length("line"))
                     .otherwise(F.lit(0)))
               / F.nullif(F.sum(F.col("cnt") * F.length("line")),
                          F.lit(0)).cast("double"), 6)
        .alias("dup_line_char_frac"),
    )
    return (
        df.select(F.col(id_col)).join(agg, id_col, "left")
        .select(F.col(id_col),
                F.coalesce("dup_line_frac", F.lit(0.0))
                .alias("dup_line_frac"),
                F.coalesce("dup_line_char_frac", F.lit(0.0))
                .alias("dup_line_char_frac"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split long documents into overlapping character chunks →
    ``(doc_id, chunk_idx, chunk_text)`` — the pre-tokenization step of
    every context-window-bounded training pipeline.

    Pure JVM: ``sequence`` generates the chunk offsets per row and
    ``posexplode`` fans them out, so the operator is map-side only (no
    shuffle) and one long document never materializes more than its own
    chunks. ``stride = chunk_chars - overlap`` must be positive.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    t = F.col(text_col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(t) - F.lit(overlap), F.lit(1)),
        F.lit(stride),
    )
    return (
        df.select(F.col(id_col), t.alias("__t"),
                  F.posexplode(starts).alias("chunk_idx", "__start"))
        .select(
            F.col(id_col), F.col("chunk_idx"),
            F.substring(F.col("__t"), F.col("__start"), chunk_chars)
             .alias("chunk_text"),
        )
    )


# conservative, deterministic redaction patterns (pre-training scrubbing);
# each is a plain RE2-safe regex that both Spark and DuckDB interpret
# identically
# (pattern, token, gates): `gates` is a list of literal substrings of which
# every match must contain AT LEAST ONE — a row containing none of them
# cannot match, so the regex (and its Java-regex backtracking: the EMAIL
# local-part alone measured 2.3 s of a 3.5 s sf1 pass) is skipped via cheap
# substring scans (JVM String.contains is an intrinsified memchr-style
# search, ~an order of magnitude faster per byte than Pattern matching).
# Match-set identical by construction: '@' is mandatory in EMAIL, 'http' in
# URL, '-' in SSN, and PHONE's mandatory \d{3} groups mean every match
# contains a decimal digit. Gates are evaluated on the ORIGINAL text; that
# stays sound through the sequential replace chain because replacement only
# deletes matched spans and inserts the literal tokens below, none of which
# contain a gate character, so a later pattern can never match a row whose
# original text failed its gate.
_PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>", ["@"]),
    (r"https?://[^\s]+", "<URL>", ["http"]),
    (r"\b(?:\+?\d{1,3}[-. ])?(?:\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}\b",
     "<PHONE>", list("0123456789")),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>", ["-"]),
]


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Scrub common PII shapes (emails, URLs, phone numbers, SSNs) with
    typed placeholder tokens → ``(doc_id, text_redacted, n_redactions)``.
    Chained ``regexp_replace`` behind substring gates — stays in
    whole-stage codegen."""
    t = F.col(text_col)

    def _gate(gates: list[str]) -> Column:
        cond = t.contains(gates[0])
        for g in gates[1:]:
            cond = cond | t.contains(g)
        return cond

    n = F.lit(0)
    for pattern, _, gates in _PII_PATTERNS:
        n = n + F.when(_gate(gates),
                       F.regexp_count(t, F.lit(pattern))).otherwise(F.lit(0))
    # NULL text must yield NULL n_redactions (the ungated regexp_count
    # null-propagated; a NULL gate falls into otherwise(0) and would
    # silently turn NULL into 0, diverging from the DuckDB oracle's
    # len(regexp_extract_all(NULL,...)) null-propagation — r15 ADVICE)
    n = F.when(t.isNull(), F.lit(None)).otherwise(n)
    out = t
    for pattern, token, gates in _PII_PATTERNS:
        out = F.when(_gate(gates),
                     F.regexp_replace(out, pattern, token)).otherwise(out)
    return df.select(
        F.col(id_col),
        out.alias("text_redacted"),
        n.cast("int").alias("n_redactions"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of each document to a bag-of-words query
    (Robertson idf variant: ``ln(1 + (N - df + 0.5)/(df + 0.5))``).
    Returns ``(id_col, bm25, n_terms_matched)`` for every doc matching at
    least one query term.

    Scale shape: ONE pass over the corpus. Tokens explode straight into a
    ``groupBy(doc_id)`` whose aggregates are per-term conditional sums —
    explode output is contiguous per document, so hash-aggregate's
    map-side combine collapses the token stream before the exchange and
    the shuffle carries ~|docs| tiny rows (never |docs|·|doc| tokens, and
    never a per-term key — no 3-key skew). The per-doc frame then feeds
    BOTH the single-row corpus stats (N, avgdl, per-term document
    frequencies) and the scoring side through a ReusedExchange, so the
    expensive normalize/split/explode subtree executes exactly once
    (plan-pinned in tests). Scoring is a broadcast of the 1-row stats +
    map-side arithmetic. Score truncated to 6 decimals for
    engine-portable comparison.

    Measured dead ends at sf1 (kept for the record): per-term map-side
    counting via higher-order ``size(filter(split(...)))`` is
    CodegenFallback (7x slower); per-term lookaround ``regexp_count``
    3.7x; literal-substring length arithmetic 2.6x (string realloc per
    term); the r6 explode→filter→per-(doc,term) shuffle plan recomputed
    its tf subtree per consumer (2.7s vs 1.3s for this shape).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = list(dict.fromkeys(query_terms))  # dedupe, keep order
    t = normalized_text(F.col(text_col))
    tok = F.explode(F.split(t, " ")).alias("__term")
    perdoc = (
        df.select(F.col(id_col), tok)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("double").alias("__dl"),
             *[F.sum(F.when(F.col("__term") == term, 1.0).otherwise(0.0))
               .alias(f"__tf_{i}") for i, term in enumerate(terms)])
    )
    stats = perdoc.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[F.sum((F.col(f"__tf_{i}") > 0).cast("double"))
          .alias(f"__df_{i}") for i in range(len(terms))],
    )
    scored = perdoc.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    matched = F.lit(0)
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}")
        idf = F.log((F.col("__n") - F.col(f"__df_{i}") + 0.5)
                    / (F.col(f"__df_{i}") + 0.5) + 1.0)
        term_s = (idf * (tf * (k1 + 1.0))
                  / (tf + k1 * (1.0 - b + b * F.col("__dl")
                                / F.col("__avgdl"))))
        score = score + F.when(tf > 0, term_s).otherwise(F.lit(0.0))
        matched = matched + (tf > 0).cast("int")
    return (scored.filter(matched > 0)
            .select(F.col(id_col),
                    _trunc(score, 6).alias("bm25"),
                    matched.cast("long").alias("n_terms_matched")))


def pack_sequences(
    df: DataFrame,
    ctx_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    partitions: int = 32,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard GPT-pretraining
    layout): conceptually concatenate every document's tokens in ``id_col``
    order into one stream and cut it into fixed ``ctx_tokens`` windows.
    Emits per doc: ``n_tokens``, the first/last window index the doc's
    tokens land in, and the doc's starting offset inside its first window —
    enough for a loader to materialize any window from the source docs.

    By default tokens are whitespace-counted from ``text_col``; pass
    ``counts_df`` — an ``(id_col, n_tokens)`` frame, e.g.
    ``tokenize.bpe_token_count(...)`` renamed — to pack on REAL
    tokenizer counts (the pretraining composition; null counts pack as
    0 exactly like null text).

    The interesting part at scale is the EXCLUSIVE PREFIX SUM of token
    counts in a global order, which a naive single ``ORDER BY`` window would
    compute on one task. Done here as the classic two-pass distributed scan:

    1. range-repartition by ``id_col`` (ordered partitions), running sum
       WITHIN each partition (parallel, one window per partition);
    2. per-partition totals — one tiny row per partition — are prefix-summed
       on the driver and broadcast-joined back as partition base offsets.

    Driver state is O(partitions), never O(rows), so the same plan runs at
    any corpus size by raising ``partitions``.
    """
    from pyspark.sql import Window

    if counts_df is not None:
        # caller-supplied (id, n_tokens) — e.g. real BPE counts from
        # tokenize.bpe_token_count; same null→0 guard, same scan shape
        toks = counts_df.select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0))
            .cast("bigint").alias("n_tokens"),
        ).repartitionByRange(partitions, F.col(id_col))
    else:
        t = normalized_text(F.col(text_col))
        toks = df.select(
            F.col(id_col),
            # null text → 0 tokens (a bare size() would return null and
            # poison the prefix sum to the driver-side offset pass)
            F.coalesce(F.size(F.split(t, " ")), F.lit(0))
            .cast("bigint").alias("n_tokens"),
        ).repartitionByRange(partitions, F.col(id_col))

    part = toks.withColumn("__pid", F.spark_partition_id())
    w = (Window.partitionBy("__pid").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # persisted: the totals collect executes this subtree once and the
    # returned plan reuses the cached partitions instead of re-tokenizing
    # and re-shuffling the corpus (measured 2× at sf10); ContextCleaner
    # reclaims it when the returned plan goes unreferenced
    local = part.withColumn("__local_cum",
                            F.sum("n_tokens").over(w)).persist()

    totals = sorted(
        local.groupBy("__pid").agg(F.max("__local_cum").alias("t"))
        .collect(), key=lambda r: r["__pid"])
    base, offsets = 0, {}
    for r in totals:
        offsets[r["__pid"]] = base
        base += r["t"]
    spark = df.sparkSession
    base_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()],
        "__pid int, __base long")

    cum = local.join(F.broadcast(base_df), "__pid").select(
        F.col(id_col), F.col("n_tokens"),
        (F.col("__base") + F.col("__local_cum") - F.col("n_tokens"))
        .alias("__before"),
    )
    return cum.select(
        F.col(id_col), F.col("n_tokens"),
        F.expr(f"__before DIV {ctx_tokens}").alias("start_window"),
        F.expr(f"(__before + n_tokens - 1) DIV {ctx_tokens}")
        .alias("end_window"),
        (F.col("__before") % ctx_tokens).alias("offset_in_window"),
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-unigram log-probability score per document — the deterministic
    stand-in for the perplexity-based quality filter (CCNet-style) that
    pipelines run with a trained LM: ``mean over tokens of
    ln(corpus_count(token) / corpus_tokens)``. Documents full of rare or
    garbage tokens score far more negative than fluent ones; ranking by
    this score approximates ranking by LM perplexity with zero model
    dependencies.

    Scale shape: one explode→groupBy builds the unigram table (map-side
    partial aggregation; the shuffle carries per-partition-distinct terms),
    one 1-row aggregate for the normalizer, and a term-keyed join back onto
    the exploded docs that AQE sizes at runtime (a real vocabulary can be
    too large to broadcast; a measured-small one converts automatically).
    Score truncated to 6 decimals for engine-portable comparison.
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    terms = df.select(F.col(id_col), F.explode(toks).alias("__term")) \
        .filter(F.col("__term") != "")
    vocab = terms.groupBy("__term").agg(
        F.count(F.lit(1)).cast("double").alias("__cnt"))
    total = vocab.agg(F.sum("__cnt").alias("__total"))
    scored = (
        terms.join(vocab, "__term")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col),
                F.log(F.col("__cnt") / F.col("__total")).alias("__lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        _trunc(F.avg("__lp"), 6).alias("mean_token_logprob"),
    )
