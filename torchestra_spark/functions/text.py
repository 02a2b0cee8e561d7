"""Text analysis for large-scale training-data pipelines: token
counting, quality scoring, language ID, fingerprinting.

All hot-path logic is Catalyst expressions (split/regexp/aggregate) —
JVM-side, whole-stage codegen; no Python UDFs.  These operate on the
``documents`` table shape (doc_id, text, lang, source, n_chars) and on
any string column.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny built-in stopword sets for the n-gram/stopword language-ID
# heuristic (public common-word lists).
STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "es"],
}

# BPE-ish tokenizer regex: words-with-leading-space / numbers / other,
# approximating GPT-2 style pre-tokenization (public pattern shape).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def words(text: Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish regex tokens (letters / digits / punct runs)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.when(F.length(text) > 0, F.length(stripped) / F.length(text)).otherwise(0.0)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    ws = words(F.lower(text))
    hits = F.size(F.filter(ws, lambda w: F.array_contains(sw, w)))
    return F.when(F.size(ws) > 0, hits / F.size(ws)).otherwise(0.0)


def mean_word_len(text: Column) -> Column:
    ws = words(text)
    total = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(ws) > 0, total.cast("double") / F.size(ws)).otherwise(0.0)


def quality_score(text: Column, lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic: length band + low punct +
    stopword presence + sane word length.  Deterministic, pure exprs."""
    n = token_count(text)
    len_score = F.least(n.cast("double") / F.lit(64.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    sw_score = F.least(stopword_ratio(text, lang) * 4.0, F.lit(1.0))
    mwl = mean_word_len(text)
    wl_score = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.5)
    return (len_score + punct_score + sw_score + wl_score) / 4.0


def _count_occurrences(text: Column, literal: str) -> Column:
    """Non-overlapping occurrence count of a literal substring via
    replace-arithmetic — replayable verbatim in any SQL engine
    (length(t) - length(replace(t, lit, ''))) / len(lit)."""
    removed = F.length(text) - F.length(F.replace(text, F.lit(literal), F.lit("")))
    return (removed / len(literal)).cast("int")


def symbol_word_ratio(text: Column) -> Column:
    """(count('#') + count('...') + count('…')) / word count — the
    Gopher symbol-to-word signal (Rae et al. 2021 §A1.1: drop above
    0.1).  0.0 for empty documents."""
    syms = (
        _count_occurrences(text, "#")
        + _count_occurrences(text, "...")
        + _count_occurrences(text, "…")
    )
    n = token_count(text)
    return F.when(n > 0, syms.cast("double") / n).otherwise(0.0)


def _lines(text: Column) -> Column:
    return F.split(text, r"\n")


def bullet_line_frac(text: Column) -> Column:
    """Fraction of lines starting with a bullet glyph (-, *, •, ‣, ▪)
    — Gopher drops documents above 0.9."""
    ls = _lines(text)
    hits = F.size(F.filter(ls, lambda ln: ln.rlike(r"^\s*[-*•‣▪]")))
    return F.when(F.size(ls) > 0, hits.cast("double") / F.size(ls)).otherwise(0.0)


def ellipsis_line_frac(text: Column) -> Column:
    """Fraction of lines ending with an ellipsis ('...' or '…') —
    Gopher drops documents above 0.3."""
    ls = _lines(text)
    hits = F.size(F.filter(ls, lambda ln: ln.rlike(r"(\.\.\.|…)\s*$")))
    return F.when(F.size(ls) > 0, hits.cast("double") / F.size(ls)).otherwise(0.0)


def alpha_word_frac(text: Column) -> Column:
    """Fraction of words containing at least one alphabetic character —
    Gopher requires at least 0.8.  1.0 for empty documents (vacuous)."""
    ws = words(text)
    hits = F.size(F.filter(ws, lambda w: w.rlike(r"[A-Za-z]")))
    return F.when(F.size(ws) > 0, hits.cast("double") / F.size(ws)).otherwise(1.0)


def gopher_filter(
    text: Column,
    lang: str = "en",
    min_tokens: int = 16,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopword_hits: int = 2,
    max_repetition: float = 0.2,
    rep_n: int = 3,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
) -> Column:
    """Gopher-style document-quality gate (Rae et al. 2021 §A1.1,
    public rule shape): token-count band, mean word length band, at
    least ``min_stopword_hits`` common stopwords, duplicate-n-gram
    fraction below ``max_repetition``, symbol-to-word ratio (#, ...)
    below ``max_symbol_word_ratio``, bullet-started / ellipsis-ended
    line fractions below their caps, and at least
    ``min_alpha_word_frac`` of words containing a letter.  Boolean
    keep/drop — pure Catalyst, usable as a pushed-down filter predicate
    over a scan."""
    n = token_count(text)
    mwl = mean_word_len(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    sw_hits = F.size(F.filter(words(F.lower(text)), lambda t: F.array_contains(sw, t)))
    return (
        (n >= min_tokens)
        & (n <= max_tokens)
        & (mwl >= min_mean_word_len)
        & (mwl <= max_mean_word_len)
        & (sw_hits >= min_stopword_hits)
        & (repetition_ratio(text, rep_n) < max_repetition)
        & (symbol_word_ratio(text) <= max_symbol_word_ratio)
        & (bullet_line_frac(text) <= max_bullet_line_frac)
        & (ellipsis_line_frac(text) <= max_ellipsis_line_frac)
        & (alpha_word_frac(text) >= min_alpha_word_frac)
    )


def c4_clean_lines(text: Column, min_line_words: int = 3) -> Column:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, public
    rule shape): keep only lines that end in terminal punctuation and
    have at least ``min_line_words`` words; rejoin with newlines.
    Pure Catalyst (filter over split lines)."""
    lines = F.split(text, r"\n")
    kept = F.filter(
        lines,
        lambda ln: ln.rlike(r"[.!?\"']\s*$")
        & (F.size(F.filter(F.split(ln, r"\s+"), lambda w: w != "")) >= min_line_words),
    )
    return F.array_join(kept, "\n")


def c4_doc_filter(
    text: Column,
    min_words: int = 5,
    max_word_len: int = 1000,
) -> Column:
    """C4-style document gate: drop docs containing source-code braces,
    the string 'lorem ipsum', any absurdly long token, or fewer than
    ``min_words`` words.  Boolean keep/drop, pure Catalyst — composes
    with ``gopher_filter`` as a pushed-down scan predicate."""
    ws = words(text)
    longest = F.when(
        F.size(ws) > 0,
        F.array_max(F.transform(ws, lambda w: F.length(w))),
    ).otherwise(F.lit(0))
    return (
        (F.size(ws) >= min_words)
        & ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
        & (longest <= max_word_len)
    )


def lang_scores(text: Column) -> Column:
    """Per-language stopword hit counts as a struct (heuristic lang-ID)."""
    ws = F.array_distinct(words(F.lower(text)))
    return F.struct(
        *[
            F.size(F.array_intersect(ws, F.array(*[F.lit(w) for w in sw]))).alias(lang)
            for lang, sw in STOPWORDS.items()
        ]
    )


def lang_id(text: Column, default: str = "und") -> Column:
    """Argmax language by stopword hits; ties broken by language-code
    order; 'und' (undetermined) when no stopword matches."""
    s = lang_scores(text)
    langs = list(STOPWORDS.keys())
    best = F.greatest(*[s[lang] for lang in langs])
    expr = F.lit(default)
    for lang in reversed(langs):  # earlier langs win ties
        expr = F.when((s[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def doc_fingerprint(text: Column) -> Column:
    """64-bit content fingerprint of normalized text (lowercased,
    whitespace-collapsed) — the exact-dedup / rolling-hash key."""
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.xxhash64(normalized)


def ngram_list(text: Column, n: int = 3) -> Column:
    """ALL word n-grams in order (duplicates kept) — the denominator
    for repetition scoring; ``shingles`` distincts this.

    The token array is let-bound (see ``_let``): interpreted HOF
    lambdas re-evaluate non-variable subexpressions per element, so
    referencing the raw words() tree n times per position would cost
    O(tokens²·n) per document."""

    def grams(wsv: Column) -> Column:
        k = F.size(wsv) - (n - 1)

        def gram(i: Column) -> Column:
            return F.concat_ws(" ", *[F.element_at(wsv, i + j) for j in range(n)])

        return F.when(
            k > 0,
            F.transform(F.sequence(F.lit(1), F.greatest(k, F.lit(1))), gram),
        ).otherwise(F.array().cast("array<string>"))

    return _let(words(F.lower(text)), grams)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) — basis for MinHash / Jaccard."""
    return F.array_distinct(ngram_list(text, n))


def repetition_ratio(text: Column, n: int = 3) -> Column:
    """Fraction of n-grams that are repeats of an earlier n-gram —
    the Gopher/C4-style duplicate-n-gram quality signal (high values
    flag boilerplate and degenerate repetition).  0.0 for documents
    with fewer than n tokens."""
    return _let(
        ngram_list(text, n),
        lambda gs: F.when(
            F.size(gs) > 0,
            1.0 - F.size(F.array_distinct(gs)).cast("double") / F.size(gs),
        ).otherwise(F.lit(0.0)),
    )


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003): select the
# minimum k-gram hash in every window of w consecutive grams.  Any
# match of >= w + k - 1 consecutive tokens between two documents is
# guaranteed to share at least one selected fingerprint, so matching on
# fingerprints finds all sufficiently-long overlaps without comparing
# full token streams.  All arithmetic is in BIGINT mod WINNOW_MOD so
# the identical computation is expressible in ANSI SQL (the DuckDB
# oracle replays it with list_transform/list_reduce) — hash-green by
# construction, unlike xxhash64-based sketches.
WINNOW_MOD = 1_000_000_007
WINNOW_PRIME = 1_048_583


def token_hash(tok: Column) -> Column:
    """Polynomial hash of a token's code points, mod WINNOW_MOD.

    ``acc*31 + codepoint`` folded left-to-right — O(len) inside
    whole-stage codegen, and byte-for-byte reproducible in SQL."""
    zero = F.lit(0).cast("long")
    return F.aggregate(
        F.split(tok, ""),
        zero,
        lambda acc, c: (acc * 31 + F.ascii(c).cast("long")) % WINNOW_MOD,
    )


def _let(val: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``val`` ONCE per
    row and reference it as a lambda variable inside ``body``.

    Spark's higher-order functions are interpreted (not codegen), and a
    lambda body re-evaluates every non-variable subexpression PER
    ELEMENT — so nesting stage B's transform over stage A's transform
    makes A run once per B element (O(n²)), and a third stage O(n³).
    Measured on winnowing at 500 docs x ~50 tokens: 234 s nested vs
    0.9 s with let-bound stages.  The 1-element-array transform turns
    the value into a NamedLambdaVariable (an O(1) bound reference)."""
    return F.element_at(F.transform(F.array(val), body), 1)


def winnow_from_hashes(hs: Column, k: int = 3, w: int = 4) -> Column:
    """Winnow an array<long> of per-token hashes (already mod
    WINNOW_MOD): k-gram hash (seeded fold of k consecutive hashes) ->
    min of every w-window -> distinct.  Inputs with fewer than k
    hashes have no grams (empty result); fewer grams than w winnow a
    single whole-doc window.

    Each stage's array is let-bound (see ``_let``), so per-row cost is
    O(tokens·(k+w)) — linear, all inside the JVM, no UDF."""

    def winnowed(gs: Column) -> Column:
        # unrolled least-of-w element_ats per window (no per-window
        # slice allocation); all indices in-bounds for ANSI mode
        def win_min(i: Column) -> Column:
            return F.least(*[F.element_at(gs, i + j) for j in range(w)])

        return (
            F.when(
                F.size(gs) >= w,
                F.array_distinct(
                    F.transform(F.sequence(F.lit(1), F.size(gs) - w + 1), win_min)
                ),
            )
            # fewer grams than the window: one whole-doc window
            .when(F.size(gs) > 0, F.array(F.array_min(gs)))
            .otherwise(F.array().cast("array<long>"))
        )

    def grams(hv: Column) -> Column:
        def gram(i: Column) -> Column:
            # unrolled fold of h[i..i+k-1] with the first hash as seed —
            # same arithmetic as DuckDB list_reduce (no-initial-value)
            # over list_slice, without the per-element slice allocation
            g = F.element_at(hv, i)
            for j in range(1, k):
                g = (g * WINNOW_PRIME + F.element_at(hv, i + j)) % WINNOW_MOD
            return g

        return F.when(
            F.size(hv) >= k,
            F.transform(F.sequence(F.lit(1), F.size(hv) - k + 1), gram),
        ).otherwise(F.array().cast("array<long>"))

    return _let(hs, lambda hv: _let(grams(hv), winnowed))


def winnow_fingerprints(text: Column, k: int = 3, w: int = 4) -> Column:
    """Distinct winnowed fingerprints of ``text`` (array<long>).

    tokens -> per-token polynomial hash -> winnow_from_hashes.  Pure
    Catalyst expressions: per-row cost is O(tokens·(k+w)) in codegen,
    no UDF, no shuffle — the fingerprint set is ~tokens/w longs per
    document regardless of document size."""
    ws = words(F.lower(text))
    return winnow_from_hashes(F.transform(ws, token_hash), k=k, w=w)


def winnow_fingerprints_tokens(tokens: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowed fingerprints over an already-tokenized array<int>
    column (the input_hint table shape): token ids ARE the hashes
    (reduced mod WINNOW_MOD), skipping the per-character fold — the
    cheap path for corpora stored as token ids."""
    return winnow_from_hashes(
        F.transform(tokens, lambda t: t.cast("long") % WINNOW_MOD), k=k, w=w
    )


def token_ngram_hashes(tokens: Column, n: int = 8) -> Column:
    """DISTINCT polynomial hashes of token-id n-grams (array<long>) —
    the winnow gram fold (same WINNOW_MOD arithmetic, so it is
    SQL-replayable) WITHOUT the window-min selection: every n-gram is
    kept.  The building block for test-set decontamination
    (``dedup.mark_contaminated``), where a MISSED overlap is a leaked
    eval example — sampling fingerprints is not acceptable there,
    unlike near-dup detection."""

    def grams(hv: Column) -> Column:
        def gram(i: Column) -> Column:
            g = F.element_at(hv, i)
            for j in range(1, n):
                g = (g * WINNOW_PRIME + F.element_at(hv, i + j)) % WINNOW_MOD
            return g

        return F.when(
            F.size(hv) >= n,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), F.size(hv) - n + 1), gram)
            ),
        ).otherwise(F.array().cast("array<long>"))

    return _let(F.transform(tokens, lambda t: t.cast("long") % WINNOW_MOD), grams)


# ------------------------------------------------------------- tokenization
# rows of a vocabulary small enough to collect into a task closure
_MAX_VOCAB = 10_000_000


def fit_vocab(
    df: DataFrame, text_col: str, size: int = 50_000, min_count: int = 1
) -> DataFrame:
    """Fit a word vocabulary: the ``size`` most frequent lowercase
    whitespace words, ranked (count DESC, word ASC — the IndexLookup
    tie rule, so the mapping is deterministic and SQL-replayable).
    Returns (word, token_id) with ids 1..size; 0 is reserved for OOV.

    One map-side-combined count aggregate, then ``orderBy + limit`` —
    TakeOrderedAndProject, i.e. per-partition partial top-``size`` with
    a driver-side merge of ``size`` rows per partition — so the FULL
    distinct-word set (hundreds of millions of words at web scale)
    never funnels through a single ranking task.  Ids are then assigned
    over the ``size`` surviving rows only: coalesce(1) +
    sortWithinPartitions + monotonically_increasing_id (ids are dense
    0..k-1 on a single partition) — no WindowExec at all, and the
    nondeterministic id expression pins the projection above the sort,
    so the rank is exactly the (count DESC, word ASC) order."""
    counts = (
        df.select(F.explode(words(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
    )
    order = [F.col("__cnt").desc(), F.col("word").asc()]
    return (
        counts.orderBy(*order)
        .limit(int(size))
        .coalesce(1)
        .sortWithinPartitions(*order)
        .withColumn("token_id", (F.monotonically_increasing_id() + 1).cast("int"))
        .select("word", "token_id")
    )


def tokenize_with_vocab(
    df: DataFrame, text_col: str, id_col: str, vocab: DataFrame, oov_id: int = 0
) -> DataFrame:
    """text -> token-id arrays through a fitted vocabulary: the bridge
    from a raw-text corpus (``documents``) to the engine's input_hint
    shape (``tokens array<int>``), so every token-side operator
    (packing, simhash/winnow dedup, decontamination, sequence ops)
    runs on tokenized text.

    One shuffle-free pass (``tokenize_with_vocab_local`` with its
    default vocabulary cap): each row is tokenized on its own, so NULL
    or duplicated ids need no care.  Returns the input columns, in
    order, then ``tokens`` (array<int>) and ``n_tok``; NULL, empty and
    wordless documents get an empty array."""
    return tokenize_with_vocab_local(df, text_col, id_col, vocab, oov_id)


def add_text_features(df: DataFrame, text_col: str = "text", lang: str = "en") -> DataFrame:
    """Convenience: attach the standard text-analysis feature columns."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(t),
            "n_bpe_tokens": bpe_ish_token_count(t),
            "punct_ratio": punct_ratio(t),
            "stopword_ratio": stopword_ratio(t, lang),
            "mean_word_len": mean_word_len(t),
            "quality": quality_score(t, lang),
            "lang_pred": lang_id(t),
            "fingerprint": doc_fingerprint(t),
        }
    )


def tokenize_with_vocab_local(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame,
    oov_id: int = 0,
    max_vocab: int = _MAX_VOCAB,
) -> DataFrame:
    """``tokenize_with_vocab`` with the vocabulary cap as an argument.
    The fitted vocabulary (size-bounded by construction — ``fit_vocab``
    caps it) is collected once and shipped in the task closure; every
    document tokenizes inside ONE mapInArrow pass.  The corpus never
    moves, and being stateless the pass runs unchanged on a
    Structured-Streaming frame, like the probe-index gates.  Output:
    input columns + ``tokens array<int>`` + ``n_tok``.  The input
    columns pass through as Arrow arrays: a pandas round trip would
    turn a bigint column holding a NULL into float64 and round ids
    above 2**53.

    Word split replicates ``words()`` exactly: Java ``\\s`` is
    ASCII-only, so the Python side splits on the same five chars.
    Lowercasing happens SPARK-side (``F.lower`` on a pre-projected
    column) so the tokenizer and ``fit_vocab`` share one casing
    implementation — Python ``str.lower()`` diverges from the JVM on
    locale-sensitive characters (e.g. U+0130 İ), which would silently
    send such words to OOV."""
    import re

    import pyarrow as pa

    rows = vocab.limit(max_vocab + 1).collect()
    if len(rows) > max_vocab:
        raise RuntimeError(
            f"vocabulary exceeds {max_vocab} rows — too large to collect "
            "into the task closure; fit a smaller one (fit_vocab size=)"
        )
    mapping = {r["word"]: int(r["token_id"]) for r in rows}
    split = re.compile("[ \\t\\n\\x0b\\f\\r]+").split
    fields = df.schema.fields
    names = [f.name for f in fields] + ["tokens", "n_tok"]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
        + ["tokens array<int>", "n_tok int"]
    )
    sel = df.select("*", F.lower(F.col(text_col)).alias("__lc"))

    def run(batches):
        for b in batches:
            toks = [
                [mapping.get(w, oov_id) for w in split(t) if w != ""] if t is not None else []
                for t in b.column(b.num_columns - 1).to_pylist()
            ]
            cols = b.columns[:-1] + [
                pa.array(toks, pa.list_(pa.int32())),
                pa.array([len(x) for x in toks], pa.int32()),
            ]
            yield pa.RecordBatch.from_arrays(cols, names)

    return sel.mapInArrow(run, out_schema)
