"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Everything except the rolling-hash fingerprint is pure JVM column
expressions (codegen, no Python). The rolling hash is an Arrow-vectorized
pandas UDF with fixed 64-bit modular arithmetic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from autoscan_spark.operators.sqlutil import (
    md5_bucket,
    qcol,
    qident,
    reject_reserved,
    shingle_expr,
    split_words,
    spread,
    with_words,
)
from pyspark.sql.functions import pandas_udf

# Language profiles: distinctive stopwords per language. Scores are stopword
# hits; CJK is detected by character class first (no spaces to tokenize).
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "that", "with", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "pour"),
    "es": ("el", "la", "los", "que", "es", "una", "por", "para"),
}


def lang_id(
    df: DataFrame, text_col: str = "text", words_col: str | None = None
) -> DataFrame:
    """Add ``lang_pred``: n-gram/stopword-heuristic language guess.

    JVM-side: per-language stopword-hit counts via array_intersect-style
    filters over the token array; argmax via array_max over (score, lang)
    structs; CJK short-circuit via a unicode-range regexp count. The token
    split is hoisted into one projected column (``with_words``) so it is
    evaluated once, not once per language score; pass ``words_col`` to
    reuse an already-projected ``with_words`` column when composing with
    other word-level ops (corpus_prep shares one split this way).
    """
    words = words_col or "__lang_words"
    base = df if words_col else with_words(df, text_col, words)
    wq = qident(words)  # words_col is user-suppliable — quote in SQL text
    scores = []
    for lang, stops in LANG_STOPWORDS.items():
        stop_list = ",".join(f"'{w}'" for w in stops)
        scores.append(
            f"struct(size(filter({wq}, w -> w in ({stop_list}))) as score, "
            f"'{lang}' as lang)"
        )
    argmax = f"array_max(array({', '.join(scores)})).lang"
    cjk = f"length(regexp_replace({qident(text_col)}, '[^\\\\x{{4e00}}-\\\\x{{9fff}}]', ''))"
    out = base.withColumn(
        "lang_pred",
        F.expr(
            f"CASE WHEN {cjk} * 2 > length({qident(text_col)}) THEN 'zh' ELSE {argmax} END"
        ),
    )
    return out if words_col else out.drop(words)


def quality_features(
    df: DataFrame, text_col: str = "text", words_col: str | None = None
) -> DataFrame:
    """Add quality-heuristic feature columns (all JVM expressions):
    n_chars, n_words, mean_word_len, punct_ratio, stopword_ratio,
    upper_ratio, and a composite ``quality_ok`` boolean gate. The token
    split is hoisted into one projected column (see ``with_words``);
    ``words_col`` reuses an existing projection when composing."""
    words = words_col or "__qf_words"
    base = df if words_col else with_words(df, text_col, words)
    wq = qident(words)
    all_stops = ",".join(
        f"'{w}'" for stops in LANG_STOPWORDS.values() for w in stops
    )
    n_chars = F.length(qcol(text_col))
    n_words = F.expr(f"size({wq})")
    df = (
        base.withColumn("n_chars", n_chars.cast("long"))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn(
            "mean_word_len",
            F.expr(
                f"length(regexp_replace({qident(text_col)}, '\\\\s+', '')) / greatest(size({wq}), 1)"
            ),
        )
        .withColumn(
            "punct_ratio",
            F.expr(
                f"length(regexp_replace({qident(text_col)}, '[^!-/:-@\\\\[-`]', '')) / greatest(length({qident(text_col)}), 1)"
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.expr(
                f"size(filter({wq}, w -> w in ({all_stops}))) / greatest(size({wq}), 1)"
            ),
        )
        .withColumn(
            "upper_ratio",
            F.expr(
                f"length(regexp_replace({qident(text_col)}, '[^A-Z]', '')) / greatest(length({qident(text_col)}), 1)"
            ),
        )
    )
    out = df.withColumn(
        "quality_ok",
        (F.col("n_words") >= 5)
        & (F.col("mean_word_len") >= 2)
        & (F.col("mean_word_len") <= 15)
        & (F.col("punct_ratio") <= 0.3)
        & (F.col("upper_ratio") <= 0.3),
    )
    return out if words_col else out.drop(words)


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_ws_tokens`` (whitespace) and ``n_bpe_tokens`` (BPE-ish regex:
    word pieces + standalone punctuation — the usual pre-tokenizer shape)."""
    words = split_words(qident(text_col), lower=False)
    return df.withColumn(
        "n_ws_tokens", F.expr(f"size({words})").cast("long")
    ).withColumn(
        "n_bpe_tokens",
        F.expr(f"size(regexp_extract_all({qident(text_col)}, '\\\\w+|[^\\\\w\\\\s]', 0))").cast("long"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data hygiene pass)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backrefs — so the scrub is oracle-checkable
# cross-engine. Scrubbing is SEQUENTIAL (email → ipv4 → phone) and each
# count is taken on the text as already scrubbed by earlier patterns, so
# e.g. digits inside an email never double-count as a phone.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\d[\d().\s-]{7,}\d"),
]


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails / IPv4s / phone numbers with ``<KIND>`` tokens.

    Adds ``n_<kind>`` counts (on the progressively scrubbed text) and
    ``scrubbed`` (the fully masked text). All JVM ``regexp_*`` expressions —
    codegen, no Python."""
    current = qcol(text_col)
    out = df
    for kind, pat in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(current, F.lit(pat), F.lit(0))).cast("long")
        )
        current = F.regexp_replace(current, pat, f"<{kind.upper()}>")
    return out.withColumn("scrubbed", current)


# ---------------------------------------------------------------------------
# Repetition statistics (gopher-style quality signals)
# ---------------------------------------------------------------------------


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Word-repetition signals: distinct-word ratio (ppm, stable long) and
    the highest single-word occurrence count. JVM array expressions.

    ``top_word_freq`` is LINEAR per document: sort the words array
    (O(W log W), codegen) and take the longest equal-run with one
    ``aggregate`` pass (O(W)). The naive transform/filter formulation is
    O(distinct × W) per doc — a 100k-word diverse document would cost ~10¹⁰
    comparisons; the run-length pass costs ~10⁵. Linearity is pinned by a
    50k-distinct-word timing test (tests/test_driver_contract.py).
    """
    words = "__rep_words"
    base = with_words(df, text_col, words)
    # longest run in the sorted array == max occurrence count of any word;
    # `w <=> acc.prev` is null-safe so the first element starts run=1
    run = "IF(w <=> acc.prev, acc.run + 1L, 1L)"
    top = (
        f"aggregate(array_sort({words}), "
        f"named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        f"(acc, w) -> named_struct("
        f"'prev', w, 'run', {run}, 'best', greatest(acc.best, {run})), "
        f"acc -> acc.best)"
    )
    return (
        base.withColumn(
            "distinct_ppm",
            F.expr(
                f"CAST(round(size(array_distinct({words})) * 1000000.0 / "
                f"greatest(size({words}), 1), 0) AS BIGINT)"
            ),
        )
        .withColumn("top_word_freq", F.expr(f"CAST({top} AS BIGINT)"))
        .drop(words)
    )


# ---------------------------------------------------------------------------
# Real (merge-based) BPE token counting with a pluggable merge table
# ---------------------------------------------------------------------------

# Deterministic default merge table: common English character bigrams/units,
# rank = list position (a real deployment plugs in its tokenizer's learned
# merges, e.g. the GPT-2/tiktoken merge list — same algorithm).
DEFAULT_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("o", "u"), ("an", "d"),
    ("in", "g"), ("t", "o"), ("i", "t"), ("o", "f"), ("i", "s"),
    ("a", "l"), ("e", "d"), ("c", "o"), ("s", "e"), ("l", "e"),
    ("m", "e"), ("n", "o"), ("h", "a"), ("l", "o"), ("d", "e"),
]


def load_bpe_merges(path: str) -> list[tuple[str, str]]:
    """Parse a GPT-2/tiktoken-style ``merges.txt`` into a rank-ordered merge
    list for ``bpe_token_count``.

    Format (the public huggingface/openai vocabulary layout): optional
    ``#version:`` header on the FIRST line, then one merge per line — two
    space-separated pieces; rank = line order. Blank lines are skipped.
    Only the first-line ``#version`` header is treated as a comment: real
    GPT-2 merge tables contain legitimate merges whose pieces start with
    ``#`` (``# #``, ``## #`` — the code-comment tokens), so a general
    "skip # lines" rule would silently drop them. Malformed lines (not
    exactly two fields) raise, because a silently mis-parsed vocabulary
    produces wrong token counts everywhere.

    The file is read on the DRIVER once (merge tables are a few hundred KB
    to a few MB) and shipped to executors inside the UDF closure — the
    standard broadcast-small-side pattern.
    """
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for lineno, raw in enumerate(f, start=1):
            line = raw.rstrip("\n")
            if not line.strip():
                continue
            if lineno == 1 and line.startswith("#version"):
                continue
            parts = line.split(" ")
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise ValueError(
                    f"{path}:{lineno}: expected 'piece1 piece2', got {line!r}"
                )
            merges.append((parts[0], parts[1]))
    if not merges:
        raise ValueError(f"{path}: no merges found")
    return merges


def _sennrich_in_memory(
    word_freqs: list[tuple[str, int]], n_merges: int, min_freq: int
) -> list[tuple[str, str]]:
    """Incremental single-process Sennrich loop (the public subword-nmt
    algorithm): pair stats plus a pair→word index maintained incrementally
    per merge, and a lazy max-heap for the argmax so each iteration costs
    O(touched words + log |pairs|) instead of a full recount. Merge-for-
    merge identical to the full-recount reference (differential-pinned in
    tests) — the greedy left-to-right refold removes every (a,b) adjacency,
    and fusing a pair can never create a new adjacency between the two
    original symbols, so incremental deltas are exact.
    """
    import heapq
    from collections import Counter, defaultdict

    vocab: list[list] = [[list(w), f] for w, f in word_freqs]
    stats: Counter = Counter()
    index: defaultdict = defaultdict(set)
    for i, (syms, f) in enumerate(vocab):
        for j in range(len(syms) - 1):
            p = (syms[j], syms[j + 1])
            stats[p] += f
            index[p].add(i)
    heap = [(-f, p) for p, f in stats.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negf, p = heap[0]
        cur = stats.get(p, 0)
        if cur <= 0:
            heapq.heappop(heap)
            stats.pop(p, None)
            continue
        if -negf != cur:  # stale entry: reinsert at the current count
            heapq.heappop(heap)
            heapq.heappush(heap, (-cur, p))
            continue
        if cur < min_freq:
            break
        a, b = p
        merges.append(p)
        merged = a + b
        touched: set = set()
        for i in index[p]:
            syms, f = vocab[i]
            for j in range(len(syms) - 1):
                stats[(syms[j], syms[j + 1])] -= f
            out: list = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = merged
                else:
                    out.append(x)
            vocab[i][0] = out
            for j in range(len(out) - 1):
                q = (out[j], out[j + 1])
                stats[q] += f
                index[q].add(i)
                touched.add(q)
        for q in touched:
            if q != p and stats.get(q, 0) > 0:
                heapq.heappush(heap, (-stats[q], q))
    return merges


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_freq: int = 2,
    top_words: int | None = None,
) -> list[tuple[str, str]]:
    """LEARN a BPE merge table from the corpus (the Spark analog of the
    public Sennrich/GPT-2 training loop) — the complement of
    ``bpe_token_count``, which APPLIES one. The returned rank-ordered list
    plugs straight into ``bpe_token_count(df, merges=...)`` (same
    ``\\w+|[^\\w\\s]`` pre-tokenizer, same character-symbol convention).

    Scale shape — the classic BPE trick makes this tractable: merges
    operate on the DISTINCT-WORD frequency table, not the corpus. ONE
    distributed corpus aggregation builds the (word, freq) table; the
    Sennrich loop then runs in driver memory on that table via the
    incremental-stats + lazy-heap algorithm (``_sennrich_in_memory``).
    This is the shape real tokenizer training uses — the merge loop is
    inherently sequential and the word table is Zipf-small next to the
    corpus, so 10⁴–10⁵ merges cost seconds of driver CPU instead of
    ``n_merges`` Spark jobs. ``top_words`` caps the vocabulary by
    frequency (deterministic (freq desc, word asc) order) — the standard
    practical bound on driver memory when the distinct-word set of a
    100 TB corpus is itself huge; None keeps every word.

    Ties on pair frequency break deterministically by (a asc, b asc), so
    the learned table is stable across runs, engines and partitionings.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    pre = r"\w+|[^\w\s]"
    words = (
        df.select(
            F.explode(
                F.regexp_extract_all(qcol(text_col), F.lit(pre), F.lit(0))
            ).alias("__w")
        )
        .groupBy("__w")
        .agg(F.count("*").cast("long").alias("__freq"))
    )
    if top_words is not None:
        words = words.orderBy(F.desc("__freq"), F.asc("__w")).limit(top_words)
    word_freqs = [(r["__w"], r["__freq"]) for r in words.collect()]
    return _sennrich_in_memory(word_freqs, n_merges, min_freq)


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]] | str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Add ``n_bpe_real``: token count from REAL byte-pair-merge tokenization.

    The algorithm is the standard BPE apply loop (greedily merge the
    lowest-rank adjacent pair until none applies) over regex pre-tokens
    (word pieces + standalone punctuation, same pre-tokenizer as the JVM
    ``token_counts`` proxy). ``merges`` is pluggable — pass a learned merge
    list, or a PATH to a GPT-2/tiktoken-format ``merges.txt``
    (``load_bpe_merges``), for production counts; the default is a small
    deterministic English table.

    Scale shape: per-WORD Python with memoization inside each Arrow batch —
    natural-language word frequency follows Zipf, so the cache hit rate is
    very high and the cost is ~O(distinct words); this matches how real
    tokenizers (tiktoken et al.) amortize. The regex-proxy ``token_counts``
    remains the all-JVM fast path when exact vocab counts aren't needed.
    """
    import re

    if isinstance(merges, str):
        merges = load_bpe_merges(merges)
    ranks = {pair: i for i, pair in enumerate(merges or DEFAULT_BPE_MERGES)}
    pre_tok = re.compile(r"\w+|[^\w\s]", re.UNICODE)

    @pandas_udf("long")
    def _count(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def word_tokens(word: str) -> int:
            hit = cache.get(word)
            if hit is not None:
                return hit
            parts = list(word)
            while len(parts) > 1:
                best_rank, best_i = None, None
                for i in range(len(parts) - 1):
                    r = ranks.get((parts[i], parts[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_i is None:
                    break
                parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
            cache[word] = len(parts)
            return len(parts)

        out = [
            sum(word_tokens(w) for w in pre_tok.findall((t or "").lower()))
            for t in texts
        ]
        return pd.Series(out, dtype="int64")

    return df.withColumn("n_bpe_real", _count(qcol(text_col)))


def normalize_text(
    df: DataFrame, text_col: str = "text", form: str = "NFC"
) -> DataFrame:
    """Add ``normalized``: Unicode normalization (UAX #15) of the text —
    the first step of any multilingual training pipeline (combining
    sequences, ligatures, width variants otherwise defeat dedup and
    tokenization).

    Spark has no built-in SQL normalizer, so this is an Arrow-batched
    pandas UDF over stdlib ``unicodedata`` (C-implemented; no per-char
    Python). ``form``: NFC/NFD/NFKC/NFKD — NFC is oracle-checked against
    DuckDB's ``nfc_normalize`` (both implement UAX #15)."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be a UAX #15 form, got {form!r}")

    @pandas_udf("string")
    def _norm(texts: pd.Series) -> pd.Series:
        import unicodedata

        return texts.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    return df.withColumn("normalized", _norm(qcol(text_col)))


def c4_clean(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style line-level cleaning (the public "Colossal Clean Crawled
    Corpus" heuristics from the T5 paper): keep only lines that end in
    terminal punctuation AND have ≥3 words; drop whole documents that
    retain no lines, or that contain "lorem ipsum" or a curly brace
    (code/boilerplate tells).

    Adds ``clean_text`` (kept lines joined by newline), ``n_lines_total``,
    ``n_lines_kept``, and the document gate ``c4_keep``. All JVM lambda/
    regexp expressions (regex syntax shared with RE2 so the DuckDB oracle
    mirrors it exactly)."""
    lines = f"split({qident(text_col)}, '\\n')"
    kept = (
        f"filter({lines}, l -> trim(l) rlike '[.!?\"]$' "
        f"AND size({split_words('l', lower=False)}) >= 3)"
    )
    return (
        df.withColumn("__kept", F.expr(kept))
        .withColumn("n_lines_total", F.expr(f"size({lines})").cast("long"))
        .withColumn("n_lines_kept", F.expr("size(__kept)").cast("long"))
        .withColumn("clean_text", F.expr("array_join(__kept, '\\n')"))
        .withColumn(
            "c4_keep",
            F.expr(
                f"size(__kept) >= 1 AND NOT contains(lower({qident(text_col)}), 'lorem ipsum') "
                f"AND NOT contains({qident(text_col)}, '{{')"
            ),
        )
        .drop("__kept")
    )


# The "must contain >= 2 of these" English function words from the public
# Gopher corpus-filtering rules (Rae et al. 2021, appendix A).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    words_col: str | None = None,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-rule document quality signals (the public corpus-filtering
    heuristics from Rae et al. 2021, appendix A), all JVM expressions:

    - ``n_words`` in [min_words, max_words]
    - ``mean_word_len`` in [3, 10]
    - ``symbol_ratio``: ('#' + '...' + '…' occurrences) / words ≤ 0.1
    - ``bullet_line_frac``: lines starting with a bullet ≤ 0.9
    - ``ellipsis_line_frac``: lines ending in an ellipsis ≤ 0.3
    - ``alpha_word_frac``: words containing a letter ≥ 0.8
    - ``stop_hits``: ≥ 2 distinct words from GOPHER_STOPWORDS present

    and the composite gate ``gopher_ok``. Counting uses ``replace``/
    ``substring`` (not regex) wherever possible so the DuckDB oracle
    mirrors it exactly; every ratio is an exact integer division. The
    token split is hoisted (see ``with_words``); ``words_col`` reuses an
    existing projection when composing."""
    words = words_col or "__gq_words"
    base = df if words_col else with_words(df, text_col, words)
    t = qident(text_col)
    wq = qident(words)
    lines = f"split({t}, '\\n')"
    n_words = f"greatest(size({wq}), 1)"
    n_lines = f"greatest(size({lines}), 1)"
    hashes = f"(length({t}) - length(replace({t}, '#', '')))"
    dots = f"(length({t}) - length(replace({t}, '...', ''))) / 3"
    uni_ell = f"(length({t}) - length(replace({t}, '…', '')))"
    bullet = (
        f"size(filter({lines}, l -> substring(ltrim(l), 1, 1) = '-' "
        f"OR substring(ltrim(l), 1, 1) = '*' "
        f"OR substring(ltrim(l), 1, 1) = '•'))"
    )
    ellipsis = (
        f"size(filter({lines}, l -> right(rtrim(l), 3) = '...' "
        f"OR right(rtrim(l), 1) = '…'))"
    )
    alpha = f"size(filter({wq}, w -> w rlike '[a-z]'))"
    stop_hits = " + ".join(
        f"(CASE WHEN array_contains({wq}, '{w}') THEN 1 ELSE 0 END)"
        for w in GOPHER_STOPWORDS
    )
    out = (
        base.withColumn("n_words", F.expr(f"size({wq})").cast("long"))
        .withColumn(
            "mean_word_len",
            F.expr(f"length(regexp_replace({t}, '\\\\s+', '')) / {n_words}"),
        )
        .withColumn(
            "symbol_ratio", F.expr(f"({hashes} + {dots} + {uni_ell}) / {n_words}")
        )
        .withColumn("bullet_line_frac", F.expr(f"{bullet} / {n_lines}"))
        .withColumn("ellipsis_line_frac", F.expr(f"{ellipsis} / {n_lines}"))
        .withColumn("alpha_word_frac", F.expr(f"{alpha} / {n_words}"))
        .withColumn("stop_hits", F.expr(stop_hits).cast("long"))
        .withColumn(
            "gopher_ok",
            F.expr(
                f"n_words >= {min_words} AND n_words <= {max_words} "
                "AND mean_word_len >= 3 AND mean_word_len <= 10 "
                "AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9 "
                "AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 "
                "AND stop_hits >= 2"
            ),
        )
    )
    return out if words_col else out.drop(words)


def chunk_documents(
    df: DataFrame,
    window_tokens: int = 512,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size token-window chunking with optional overlap — the
    pretraining sequence-prep step (cut each document into
    ``window_tokens``-token chunks every ``stride`` tokens; ``stride <
    window_tokens`` gives overlapping windows, default non-overlapping).

    All JVM: one ``sequence``/``transform``/``slice`` projection and a
    ``posexplode`` — no shuffle at all; chunking is embarrassingly
    parallel per document. The final chunk may be shorter than the
    window (kept — real pipelines pad or pack it downstream). Empty,
    whitespace-only and NULL documents emit ZERO chunks (split of an
    empty string is ``['']`` — without the filter an empty doc would
    fabricate a one-token empty chunk).

    Output: (id_col, ``chunk_id``, ``chunk_start``, ``n_chunk_tokens``,
    ``chunk_text``).
    """
    if window_tokens < 1:
        raise ValueError(f"window_tokens must be >= 1, got {window_tokens}")
    if stride is None:  # not `or`: stride=0 must reach the check below
        stride = window_tokens
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    tc = qident(text_col)  # quoted identifier
    df = df.filter(F.expr(f"{tc} IS NOT NULL AND length(trim({tc})) > 0"))
    # hoisted split (see ``with_words``): inlined, it would re-tokenize
    # the full document FOUR times per row (sequence bound + two slices +
    # size)
    words = "__words"
    chunks = (
        f"transform("
        f"sequence(0, CAST(floor((size({words}) - 1) / {stride}) AS INT)), "
        f"i -> struct(i * {stride} AS start, "
        f"concat_ws(' ', slice({words}, i * {stride} + 1, {window_tokens})) AS chunk, "
        f"size(slice({words}, i * {stride} + 1, {window_tokens})) AS n))"
    )
    return with_words(df, text_col, words, lower=False).select(
        F.col(id_col), F.posexplode(F.expr(chunks)).alias("chunk_id", "__c")
    ).select(
        id_col,
        "chunk_id",
        F.col("__c.start").cast("long").alias("chunk_start"),
        F.col("__c.n").cast("long").alias("n_chunk_tokens"),
        F.col("__c.chunk").alias("chunk_text"),
    )


def _bigrams_expr(words: str) -> str:
    """SQL expression: ``struct(w1, w2)`` of each pair of consecutive words
    in the hoisted word-array column ``words`` (empty below 2 words). Takes
    a column, not an inline split: ``{words}[j]`` inside the lambda would
    re-run the split once per bigram — O(words²) per document."""
    return (
        f"CASE WHEN size({words}) >= 2 THEN "
        f"transform(sequence(1, size({words}) - 1), "
        f"j -> struct({words}[j - 1] AS w1, {words}[j] AS w2)) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END"
    )


def bigram_rarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_threshold: int = 2,
) -> DataFrame:
    """Corpus bigram-LM rarity signals per document (the bigram analog of
    ``unigram_familiarity`` — CCNet-style fluency filtering trains an LM
    on the corpus and flags documents whose transitions the LM finds
    improbable).

    Per doc over its word bigrams, with MLE conditional probability
    ``P(w2|w1) = c(w1,w2) / c(w1·)`` from CORPUS-wide counts (``c(w1·)``
    = bigrams starting with w1):
    - ``n_bigrams``, ``n_rare_bigrams`` (corpus count ≤ ``rare_threshold``)
      — exact integers;
    - ``min_bigram_p`` — the rarest transition's probability. ``min`` over
      correctly-rounded IEEE divisions is order-independent, so the value
      is bit-stable cross-engine (a SUM of doubles would not be, and log
      is not correctly rounded — both deliberately avoided, same
      reasoning as ``unigram_familiarity``'s rational design).

    Docs with fewer than 2 words emit no bigrams and are absent (no
    denominator — the ``duplicate_spans`` convention).

    Shape at scale — ONE explode evaluation, ONE corpus-wide shuffle:
    corpus counts come from window aggregates over the exploded bigram
    frame, not groupBy + join-back (the join-back formulation referenced
    the exploded frame three times, and Catalyst recomputes an explode
    subtree per consumer — measured 20s → 1s at sf0.1). The ``c(w1·)``
    window partitions by ``w1`` FIRST; the ``c(w1,w2)`` window then
    partitions by ``(w1, w2)``, which hash-partitioning on ``w1`` already
    satisfies (rows with equal (w1,w2) share a w1), so Catalyst inserts a
    re-sort but NO second exchange. The per-doc groupBy is the only other
    shuffle. Stopword-headed ``w1`` groups buffer large window partitions
    (spill-capable); for a corpus whose hottest bigram exceeds executor
    spill comfort, fall back to pre-aggregated counts + a broadcast of
    the capped-top-K bigram table.
    """
    from pyspark.sql.window import Window

    doc_bi = with_words(df, text_col, "__bgw").select(
        qcol(id_col), F.explode(F.expr(_bigrams_expr("__bgw"))).alias("__bg")
    ).select(qcol(id_col), F.col("__bg.w1").alias("__w1"), F.col("__bg.w2").alias("__w2"))
    return (
        doc_bi.withColumn(
            "__c1", F.count("*").over(Window.partitionBy("__w1")).cast("long")
        )
        .withColumn(
            "__c12",
            F.count("*").over(Window.partitionBy("__w1", "__w2")).cast("long"),
        )
        .groupBy(qcol(id_col))
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("__c12") <= rare_threshold, 1).otherwise(0)
            ).cast("long").alias("n_rare_bigrams"),
            F.min(F.col("__c12") / F.col("__c1")).alias("min_bigram_p"),
        )
    )


def unigram_familiarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average corpus unigram probability — the rational
    cousin of a perplexity filter (documents full of corpus-rare words
    score low; boilerplate scores high). Deliberately log-free: the score
    is ``sum(corpus_count(word) for word in doc) / (n_words_doc *
    total_corpus_words)`` — integer aggregates (exact, order-independent)
    with ONE double division at the end, so the value is bit-identical
    across engines and partitionings, unlike a sum of per-word log
    probabilities whose value depends on float summation order.

    Shape at scale: explode → word-frequency groupBy (one shuffle,
    map-side combined) → words ⋈ freqs equi-join on the word. The 1-row
    corpus total is a broadcast cross join, never a collect.

    Output: (id_col, ``n_words``, ``sum_counts``, ``familiarity``).
    """
    words = df.select(
        F.col(id_col),
        F.explode(F.expr(split_words(qident(text_col)))).alias("__w"),
    )
    freqs = words.groupBy("__w").agg(F.count("*").cast("long").alias("__c"))
    total = freqs.agg(F.sum("__c").alias("__tot"))
    per_doc = words.join(freqs, "__w").groupBy(qcol(id_col)).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("__c").cast("long").alias("sum_counts"),
    )
    # two-step division: n_words * __tot as a BIGINT product would overflow
    # past ~9.2e18 (a 1e6-word doc in a ~1e13-word corpus); each division is
    # correctly rounded and the order is fixed, so the value stays
    # bit-identical cross-engine
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        "n_words",
        "sum_counts",
        F.expr("(sum_counts / n_words) / __tot").alias("familiarity"),
    )


# ---------------------------------------------------------------------------
# Corpus-level stats: URL/domain extraction, token frequencies
# ---------------------------------------------------------------------------

# shared Java-regex/RE2 syntax (no lookaround/backrefs) → oracle-checkable
URL_PATTERN = r"https?://[^/\s]+"


def url_domain_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-domain URL stats over the corpus: (domain, n_urls, n_docs).

    The standard pre-filter signal for web training data (domain allow/deny
    lists, per-domain caps). Shape: regexp extract (JVM) → explode → one
    groupBy(domain) shuffle; n_docs is count(DISTINCT doc) per domain —
    partial aggregation applies, no per-URL Python."""
    urls = df.select(
        F.col(id_col),
        F.explode(
            # F.lit keeps the pattern out of SQL-literal escaping (the SQL
            # parser would strip the \s backslash)
            F.regexp_extract_all(qcol(text_col), F.lit(URL_PATTERN), F.lit(0))
        ).alias("__url"),
    )
    return (
        urls.withColumn(
            "domain", F.lower(F.regexp_replace("__url", "^https?://", ""))
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
        )
    )


def token_frequencies(
    df: DataFrame, text_col: str = "text", top_n: int | None = None
) -> DataFrame:
    """Corpus token-frequency table: (token, n) — the input to vocabulary /
    BPE-merge training. One explode + one groupBy(token) shuffle (map-side
    partial counts do the heavy lifting; token keys are Zipf-skewed but the
    partial agg collapses each partition's hot tokens to one row before the
    shuffle). ``top_n`` keeps the N most frequent with a deterministic
    (n DESC, token ASC) tie-break."""
    words = "__tf_words"
    toks = (
        with_words(df, text_col, words)
        .select(F.explode_outer(F.col(words)).alias("token"))
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    if top_n is None:
        return counts
    # sort+limit compiles to TakeOrdered (per-partition top-N then merge) —
    # never a single-partition global window
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(top_n)


_FP_MOD = (1 << 61) - 1
_FP_BASE = 257


def _mulmod61(a, b):
    """Exact vectorized (a*b) mod (2^61-1) for uint64 arrays with a,b < 2^61.

    31-bit limb split: a*b = ah*bh*2^62 + (ah*bl + bh*al)*2^31 + al*bl, then
    fold with 2^61 ≡ 1 (mod M). Every intermediate fits in uint64 (bounds in
    comments), so this is pure numpy — no Python bigints, no overflow.
    """
    import numpy as np

    M = np.uint64(_FP_MOD)
    s31, s30, s1 = np.uint64(31), np.uint64(30), np.uint64(1)
    mask31, mask30 = np.uint64((1 << 31) - 1), np.uint64((1 << 30) - 1)
    ah, al = a >> s31, a & mask31  # ah < 2^30, al < 2^31
    bh, bl = b >> s31, b & mask31
    mid = ah * bl + bh * al        # < 2^62
    high = ah * bh                 # < 2^60
    low = al * bl                  # < 2^62
    # 2^62 ≡ 2; mid*2^31 = (mid>>30)*2^61 + (mid&mask30)*2^31 ≡ (mid>>30) + ...
    ret = (high << s1) + (mid >> s30) + ((mid & mask30) << s31) + low  # < 2^64
    ret = (ret >> np.uint64(61)) + (ret & M)
    ret = (ret >> np.uint64(61)) + (ret & M)
    return np.where(ret >= M, ret - M, ret)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``fingerprint``: polynomial rolling hash (base 257 mod 2^61-1) of
    the whitespace-normalized, lowercased text.

    Fully vectorized per Arrow batch: all strings' bytes are flattened into
    one numpy array, each byte is multiplied by its positional power of the
    base (``_mulmod61``), and per-string sums come from ``np.add.reduceat``
    split into 31-bit limbs so no segment sum can overflow uint64. No
    per-character (or per-row) Python loop — this is the repo's invariant
    for every non-test operator."""

    @pandas_udf("long")
    def _fp(texts: pd.Series) -> pd.Series:
        import numpy as np

        norms = [
            (" ".join((t or "").lower().split())).encode("utf-8") for t in texts
        ]
        out = np.zeros(len(norms), dtype=np.uint64)
        lens = np.array([len(b) for b in norms], dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            ne_lens = lens[nonempty]
            buf = np.frombuffer(
                b"".join(norms[i] for i in np.flatnonzero(nonempty)), dtype=np.uint8
            ).astype(np.uint64)
            # pows[j] = base^j mod M — exact Python ints, max_len steps/batch
            max_len = int(ne_lens.max())
            pows_py = [1] * max_len
            for j in range(1, max_len):
                pows_py[j] = (pows_py[j - 1] * _FP_BASE) % _FP_MOD
            pows = np.array(pows_py, dtype=np.uint64)

            starts = np.concatenate(([0], np.cumsum(ne_lens)[:-1]))
            seg = np.repeat(np.arange(len(ne_lens)), ne_lens)
            local = np.arange(len(buf), dtype=np.int64) - starts[seg]
            exponent = ne_lens[seg] - 1 - local
            terms = _mulmod61(buf, pows[exponent])  # each < M < 2^61

            # segment sums in 31-bit limbs: per-limb sums < len * 2^31,
            # overflow-free for strings up to 2^33 bytes
            s31 = np.uint64(31)
            mask31 = np.uint64((1 << 31) - 1)
            M = np.uint64(_FP_MOD)
            sum_hi = np.add.reduceat(terms >> s31, starts) % M
            sum_lo = np.add.reduceat(terms & mask31, starts) % M
            two31 = np.full_like(sum_hi, np.uint64(1 << 31))
            total = _mulmod61(sum_hi, two31) + sum_lo  # < 2M, fits
            out[nonempty] = np.where(total >= M, total - M, total)
        return pd.Series(out.astype(np.int64), dtype="int64")

    return df.withColumn("fingerprint", _fp(qcol(text_col)))


def content_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``content_fp``: md5 of the whitespace-normalized lowercased text —
    the SQL-expressible (oracle-checkable) fingerprint variant."""
    norm = F.regexp_replace(F.trim(F.lower(qcol(text_col))), r"\s+", " ")
    return df.withColumn("content_fp", F.md5(norm))


def span_corruption(
    df: DataFrame,
    span: int = 3,
    group: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5/UL2-style span-corruption pair prep, hash-deterministic.

    The public denoising objective masks ~``span/group`` of each
    document's tokens in contiguous spans and trains input→target with
    numbered sentinels. Real T5 samples span positions; a distributed
    data-prep pass wants the same examples on every run, engine and
    partitioning, so the span start inside each ``group``-word block is
    chosen by the corpus-stable md5 position hash the sampling module uses
    (``sqlutil.md5_bucket`` of ``id#k`` — identical in DuckDB, so the
    operator is oracle-checkable). One masked span per full block
    (mask rate = span/group = 15% at defaults); the trailing partial
    block stays unmasked (deterministic, documented deviation from T5's
    tail handling).

    Output per doc with ≥ ``group`` words:
    - ``input_text``: words with each masked span replaced by
      ``<extra_id_k>`` (k = block index);
    - ``target_text``: ``<extra_id_k> masked words ...`` per block,
      ending with the standard final sentinel;
    - ``n_masked``: exact masked word count.

    All JVM: hoisted word split, ONE transform over block indices
    building (prefix ++ sentinel ++ suffix) piece arrays, flatten +
    array_join. Zero shuffles — embarrassingly parallel per document.
    """
    if span < 1 or group <= span:
        raise ValueError(f"need 1 <= span < group, got span={span} group={group}")
    w, g, sp = "__scw", group, span
    nfull = f"CAST(floor(size({w}) / {g}) AS INT)"
    # per-block offsets hoisted into ONE array column: the md5+conv hash
    # would otherwise be inlined (and re-evaluated, no lambda CSE) four
    # times per block across the two piece expressions — mirrors the
    # DuckDB oracle's `offs` CTE
    offset = md5_bucket(
        f"concat(CAST({qident(id_col)} AS STRING), '#', CAST(k AS STRING))", g - sp + 1
    )
    offs_expr = f"transform(sequence(0, {nfull} - 1), k -> CAST({offset} AS INT))"
    o = "__offs[k]"  # Spark array indexing is 0-based
    input_expr = (
        f"array_join(flatten(concat("
        f"transform(sequence(0, {nfull} - 1), k -> "
        f"  concat("
        f"    slice({w}, k * {g} + 1, {o}), "
        f"    array(concat('<extra_id_', CAST(k AS STRING), '>')), "
        f"    slice({w}, k * {g} + {o} + {sp} + 1, {g} - {o} - {sp}))), "
        f"array(slice({w}, {nfull} * {g} + 1, size({w}) - {nfull} * {g}))"
        f")), ' ')"
    )
    target_expr = (
        f"array_join(flatten(concat("
        f"transform(sequence(0, {nfull} - 1), k -> "
        f"  concat("
        f"    array(concat('<extra_id_', CAST(k AS STRING), '>')), "
        f"    slice({w}, k * {g} + {o} + 1, {sp}))), "
        f"array(array(concat('<extra_id_', CAST({nfull} AS STRING), '>')))"
        f")), ' ')"
    )
    return (
        with_words(df, text_col, w, lower=False)
        .filter(F.expr(f"size({w}) >= {g}"))
        .withColumn("__offs", F.expr(offs_expr))
        .select(
            qcol(id_col),
            F.expr(input_expr).alias("input_text"),
            F.expr(target_expr).alias("target_text"),
            F.expr(f"CAST({nfull} * {sp} AS BIGINT)").alias("n_masked"),
        )
    )


def readability(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch-Kincaid grade-level readability per document — the classic
    surface-form difficulty signal educational-quality filters correlate
    with (words/sentence and syllables/word drive the public formula
    0.39·w/s + 11.8·syl/w − 15.59).

    Cross-engine exactness: the three counts are exact integers —
    sentences = maximal ``[.!?]+`` runs (min 1), syllables = per-word
    ``max(1, vowel-group runs)`` summed via a JVM ``aggregate`` fold —
    and the grade is ONE fixed double expression over them (each IEEE
    op correctly rounded, identical tree in the DuckDB oracle), so the
    value is bit-stable; no transcendentals, no float accumulations.
    Per-word regexps run on the word ELEMENT (O(doc) total — not the
    hoist-requiring recompute class). Zero shuffles. Empty/NULL docs are
    absent (no denominator).

    Output: (id_col, ``n_words``, ``n_sentences``, ``n_syllables``,
    ``fk_grade``).
    """
    tc = qident(text_col)
    w = "__rdw"
    syl = (
        f"aggregate({w}, 0, (acc, x) -> acc + "
        f"greatest(1, size(regexp_extract_all(lower(x), '[aeiouy]+', 0))))"
    )
    return (
        with_words(
            df.filter(F.expr(f"{tc} IS NOT NULL AND length(trim({tc})) > 0")),
            text_col,
            w,
            lower=False,
        )
        .select(
            qcol(id_col),
            F.expr(f"CAST(size({w}) AS BIGINT)").alias("n_words"),
            F.expr(
                f"CAST(greatest(1, size(regexp_extract_all({tc}, '[.!?]+', 0)))"
                " AS BIGINT)"
            ).alias("n_sentences"),
            F.expr(f"CAST({syl} AS BIGINT)").alias("n_syllables"),
        )
        .withColumn(
            "fk_grade",
            F.expr(
                "0.39 * (CAST(n_words AS DOUBLE) / n_sentences) + "
                "11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF with a LINEAR
    idf (``score_ppm = tf * 1e6 DIV df`` — exact integers), plus the raw
    ``tf``/``df``/``n_docs`` counts so a consumer can apply any damped
    idf variant (log, BM25 saturation) downstream. The log-damped score
    is deliberately NOT computed here: ``ln`` carries no IEEE
    correctly-rounded guarantee, so its last-ulp noise would make ranking
    engine-dependent — the same determinism rule ``temperature_rates``
    documents for ``power`` — while integer ranking is bit-stable and
    oracle-checkable.

    Shape: explode the hoisted word split → one (doc, term) groupBy
    shuffle for tf → df as ``count() OVER (PARTITION BY term)`` on that
    SAME tf frame (one term-keyed exchange) → broadcast the 1-row corpus
    count → per-doc top-k window. The r06 formulation computed df with a
    second ``groupBy(term)`` + join, which Catalyst planned as a full
    re-evaluation of the scan → explode → (doc, term) aggregate chain
    (no common-subexpression reuse across the two aggregates: two parquet
    scans, two explodes, 4 exchanges); the window form shares one chain
    (guide §2.4 "two operations keyed the same way can share one
    exchange"). df = row-count of tf per term either way — bit-identical.
    No corpus-sized join and nothing quadratic; skew on hot terms is
    defused by the (doc, term) partial aggs feeding the window.

    Ties: (score_ppm DESC, term ASC) — fully deterministic.
    """
    from pyspark.sql.window import Window

    terms = with_words(
        df.select(qcol(id_col), qcol(text_col)), text_col, "__tw"
    ).select(
        qcol(id_col).alias("doc_id"),
        F.explode_outer("__tw").alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n_docs = df.select(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    scored = (
        tf.withColumn(
            "df",
            F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long"),
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_ppm",
            F.expr("CAST(tf AS BIGINT) * 1000000 DIV df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "n_docs", "score_ppm")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over word
    bigrams — the classic phrase-mining signal (word2vec's phrase pass,
    Mikolov et al. 2013, uses exactly this count ratio).

    Probabilities live in the bigram event space: with ``Nb`` total
    bigram occurrences, ``c(x,*)`` / ``c(*,y)`` marginal start/end
    counts and ``c(x,y)`` the pair count, the PMI *ratio* is
    ``c(x,y)·Nb / (c(x,*)·c(*,y))``. The monotone log is dropped and the
    ratio emitted as integer ppm (``1e6·c12·Nb DIV (c1·c2)``) — ranking
    is unchanged and the value is bit-stable cross-engine (no float log).
    BIGINT headroom: 1e6·c12·Nb needs c12·Nb < 9.2e12 — fine to ~1e9
    corpus bigrams with hot pairs ≤ 1e3; past that, drop the ppm scale
    factor or move the ratio to DOUBLE (ranking tolerates it; the exact
    integer form is what makes the small-scale oracle byte-exact).

    Shape at scale: ONE corpus-sized shuffle (the bigram groupBy, with
    map-side partial aggregation); the start/end marginals are window
    sums over the ALREADY-AGGREGATED pair table (vocab²-bounded, far
    smaller than the corpus); ``Nb`` is a 1-row aggregate cross-joined
    back (broadcast — never a global window, which would single-partition
    the table); the final top-k is ``orderBy().limit()`` = distributed
    TakeOrdered, no global sort.
    """
    from pyspark.sql.window import Window

    reject_reserved(df, ("__pmw", "__pmb"), "pmi_collocations")
    pairs = (
        with_words(df, text_col, "__pmw")
        .select(F.explode(F.expr(_bigrams_expr("__pmw"))).alias("__pmb"))
        .select(F.col("__pmb.w1").alias("w1"), F.col("__pmb.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        # barrier: the pair table is consumed TWICE (marginals + the Nb
        # 1-row total) and Catalyst recomputes a shared subtree per
        # consumer — without this the corpus explode+groupBy runs twice
        # (the minhash/simhash localCheckpoint pattern; pair table is
        # vocab²-bounded, far smaller than the corpus it summarizes)
        .localCheckpoint()
    )
    marg = pairs.withColumn(
        "__c1", F.sum("n_xy").over(Window.partitionBy("w1")).cast("long")
    ).withColumn(
        "__c2", F.sum("n_xy").over(Window.partitionBy("w2")).cast("long")
    )
    total = pairs.agg(F.sum("n_xy").cast("long").alias("__nb"))
    return (
        marg.crossJoin(F.broadcast(total))
        .filter(F.col("n_xy") >= int(min_count))
        .select(
            "w1",
            "w2",
            "n_xy",
            F.expr(
                "(CAST(1000000 AS BIGINT) * n_xy * __nb)"
                " DIV (__c1 * __c2)"
            ).alias("pmi_ppm"),
        )
        .orderBy(F.desc("pmi_ppm"), "w1", "w2")
        .limit(int(top_k))
    )


def lexicon_hits(
    df: DataFrame,
    lexicon: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hit_ppm: int = 100_000,
) -> DataFrame:
    """Wordlist (block/allow-list) filter: per document the token count,
    the number of tokens in ``lexicon``, the integer hit rate in parts
    per million, and a keep flag (``hit_ppm <= max_hit_ppm``) — the
    standard "bad-words density" content filter (UT1-blocklist shape).

    All JVM array expressions over ONE hoisted word split; the lexicon
    is inlined into the plan as a literal IN-list (a production run
    plugs in its list the same way — for lists beyond a few thousand
    entries switch to the broadcast-join shape of ``oov_rate``).
    Integer ppm with a BIGINT promote before the multiply (the ANSI
    overflow rule), so the filter decision is bit-stable cross-engine.

    Output: (id_col, ``n_tokens`` bigint, ``n_hits`` bigint,
    ``hit_ppm`` bigint, ``lexicon_ok`` boolean).
    """
    if not lexicon:
        raise ValueError("lexicon must be non-empty")
    reject_reserved(df, ("__lx_w",), "lexicon_hits")
    in_list = ",".join("'" + w.replace("'", "''").lower() + "'" for w in lexicon)
    base = with_words(df, text_col, "__lx_w")
    hits = f"size(filter(__lx_w, w -> w IN ({in_list})))"
    return base.select(
        qcol(id_col),
        F.expr("size(__lx_w)").cast("long").alias("n_tokens"),
        F.expr(hits).cast("long").alias("n_hits"),
        F.expr(
            f"(CAST(1000000 AS BIGINT) * {hits}) DIV greatest(size(__lx_w), 1)"
        ).alias("hit_ppm"),
    ).withColumn("lexicon_ok", F.col("hit_ppm") <= int(max_hit_ppm))


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer fertility: subword (BPE-ish pre-tokenizer)
    tokens per whitespace word, as exact integer ppm — the standard
    "how many pieces does the tokenizer cut a word of this language
    into" mixture diagnostic (fertility ~1.0 for English, >2 for
    underserved scripts; drives per-language sampling temperature).

    Shape: the two per-row counts are JVM regex expressions
    (``token_counts``), then ONE groupBy over the tiny group domain —
    partial aggregation collapses it map-side; the division happens
    once per group on exact BIGINT sums.

    Output: (group_col, ``n_docs`` bigint, ``sum_ws_tokens`` bigint,
    ``sum_bpe_tokens`` bigint, ``fertility_ppm`` bigint).
    """
    counted = token_counts(df, text_col=text_col)
    return (
        counted.groupBy(qcol(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_ws_tokens").cast("long").alias("sum_ws_tokens"),
            F.sum("n_bpe_tokens").cast("long").alias("sum_bpe_tokens"),
        )
        .withColumn(
            "fertility_ppm",
            F.expr(
                "(CAST(1000000 AS BIGINT) * sum_bpe_tokens)"
                " DIV greatest(sum_ws_tokens, 1)"
            ),
        )
    )


def oov_rate(
    df: DataFrame,
    vocab_size: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Out-of-vocabulary rate against a fixed-size corpus vocabulary:
    the vocabulary is the ``vocab_size`` most frequent words (ties
    broken by word ascending — fully deterministic), and every document
    reports how many of its tokens fall outside it — the tokenizer-
    coverage / vocab-pruning diagnostic run before committing to a
    vocab size.

    Shape: ONE explode+groupBy shuffle builds the word-frequency table,
    the top-``vocab_size`` slice of it BROADCASTS (vocab-sized, never
    the corpus), and the per-document counts come from a broadcast
    left-join on the exploded words plus one groupBy(doc). The corpus
    text itself shuffles only by (doc) for the final per-doc count — at
    100 TB both wide stages are plain hash partitions with map-side
    partial aggregation; no driver-side collect anywhere.

    Output: (id_col, ``n_tokens`` bigint, ``n_oov`` bigint,
    ``oov_ppm`` bigint).
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    reject_reserved(df, ("__ov_w",), "oov_rate")
    # explode_outer + the null filter keep explode's rows (a split is never
    # empty, so only NULL text yields the outer null row)
    words = with_words(df, text_col, "__ov_w").select(
        qcol(id_col), F.explode_outer("__ov_w").alias("__word")
    ).filter(F.col("__word").isNotNull())
    vocab = (
        words.groupBy("__word")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .orderBy(F.desc("__freq"), F.asc("__word"))
        .limit(int(vocab_size))
        .select(F.col("__word").alias("__vword"))
    )
    return (
        words.join(
            F.broadcast(vocab), words.__word == vocab.__vword, "left"
        )
        .groupBy(qcol(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__vword").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_ppm",
            F.expr("(CAST(1000000 AS BIGINT) * n_oov) DIV greatest(n_tokens, 1)"),
        )
    )


def length_percentile_filter(
    df: DataFrame,
    lo: float = 0.05,
    hi: float = 0.95,
    group_col: str = "lang",
    len_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group percentile length gate: flag documents whose length falls
    outside the group's [``lo``, ``hi``] exact-percentile band — the
    outlier-length filter (truncated fragments at the short end,
    concatenation accidents at the long end) applied per language so a
    verbose language's normal lengths don't get clipped by a terse one's
    band.

    Percentiles are Spark ``percentile()`` — the linear-interpolation
    estimator DuckDB calls ``quantile_cont``, so the band edges are the
    same doubles in both engines (same precedent as the
    ``length_quantiles`` query). The band table is one row per group and
    BROADCASTS back; the corpus is never shuffled at all.

    Output: (id_col, group_col, len_col, ``len_ok`` boolean).
    """
    bands = (
        df.groupBy(qcol(group_col))
        .agg(
            F.expr(f"percentile({qident(len_col)}, {lo})").alias("__lo"),
            F.expr(f"percentile({qident(len_col)}, {hi})").alias("__hi"),
        )
        .withColumnRenamed(group_col, "__grp")
    )
    return (
        df.select(qcol(id_col), qcol(group_col), qcol(len_col))
        .join(
            F.broadcast(bands), qcol(group_col) == F.col("__grp"), "left"
        )
        .select(
            qcol(id_col),
            qcol(group_col),
            qcol(len_col),
            (
                (qcol(len_col) >= F.col("__lo"))
                & (qcol(len_col) <= F.col("__hi"))
            ).alias("len_ok"),
        )
    )


def ngram_commonness(
    df: DataFrame,
    n: int = 3,
    common_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus n-gram commonness score: the share (exact integer ppm) of a
    document's DISTINCT word n-grams that appear in at least
    ``common_docs`` OTHER documents — a direct boilerplate-ness signal
    (near 0 = original text, near 1e6 = assembled from corpus-wide
    stock phrases); the doc-level complement of line-level boilerplate
    stripping.

    Shape (r07): the exploded distinct (gram-hash, doc) stream shuffles
    ONCE on the 16-byte md5 of the gram (never the gram string) and the
    document frequency is a ``count() OVER (PARTITION BY gram-hash)``
    window on that single exchange, followed by the groupBy(doc) rollup.
    The r6 formulation ran the same stream through a groupBy(gram) AND a
    join back to itself — Catalyst re-computed the whole explode+md5
    pipeline on both consumers and exchanged it twice; the window form
    computes the pipeline once and removes one exchange (plan-diffed:
    3 Exchanges + double explode → 2 Exchanges + single explode). The
    Zipf-hot gram note still holds: the hottest window partition is the
    most common shingle's bucket, same as the join key's bucket before.

    Output: (id_col, ``n_grams`` bigint, ``n_common`` bigint,
    ``common_ppm`` bigint).
    """
    reject_reserved(df, ("__nc_w", "__nc_g"), "ngram_commonness")
    from pyspark.sql.window import Window

    grams = (
        with_words(spread(df.select(qcol(id_col), qcol(text_col))), text_col, "__nc_w")
        .withColumn("__nc_g", F.expr(shingle_expr("__nc_w", n)))
        .select(
            qcol(id_col).alias("__id"),
            F.explode_outer("__nc_g").alias("__gram"),
        )
        .filter(F.col("__gram").isNotNull())
        .select("__id", F.expr("unhex(md5(__gram))").alias("__gh"))
    )
    w_df = Window.partitionBy("__gh")
    return (
        grams.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            # "other documents": this doc contributes 1 to its own df
            F.sum(
                F.when(F.col("__df") >= int(common_docs) + 1, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_common"),
        )
        .withColumn(
            "common_ppm",
            F.expr(
                "(CAST(1000000 AS BIGINT) * n_common) DIV greatest(n_grams, 1)"
            ),
        )
    )


def ccnet_buckets(
    df: DataFrame,
    group_col: str = "lang",
    lo: float = 1.0 / 3.0,
    hi: float = 2.0 / 3.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing: score every document
    with the corpus-unigram familiarity (the repo's log-free perplexity
    proxy — exact integer aggregates, one final division, bit-stable
    cross-engine) and split each language at its ``lo``/``hi`` exact
    percentiles into ``head`` (most familiar ≙ lowest perplexity),
    ``middle``, ``tail`` — the public CCNet recipe's quality tiers used
    to mix pretraining data.

    Shape: the familiarity pipeline's shuffles, one corpus equi-join on
    the id to re-attach the group column, then a one-row-per-language
    cut table that BROADCASTS back; bucket assignment is a JVM CASE.

    Output: (id_col, group_col, ``familiarity`` double, ``bucket``).
    """
    fam = unigram_familiarity(df, text_col=text_col, id_col=id_col).select(
        qcol(id_col), "familiarity"
    )
    # The narrow (id, group, familiarity) frame is consumed twice — by
    # the percentile cuts and by the final bucket assignment — and
    # Catalyst re-evaluated the ENTIRE familiarity pipeline for each
    # (8 corpus scans in the r06 plan). A lazy localCheckpoint makes the
    # cuts job materialize it once and the assignment reuse it (the
    # minhash `pairs` idiom; 3 doubles/row, so the checkpoint is compact
    # at any corpus size).
    scored = fam.join(
        df.select(qcol(id_col), qcol(group_col)), id_col
    ).localCheckpoint(eager=False)
    cuts = (
        scored.groupBy(qcol(group_col))
        .agg(
            F.expr(f"percentile(familiarity, {lo!r})").alias("__lo"),
            F.expr(f"percentile(familiarity, {hi!r})").alias("__hi"),
        )
        .withColumnRenamed(group_col, "__grp")
    )
    return (
        scored.join(F.broadcast(cuts), qcol(group_col) == F.col("__grp"))
        .select(
            qcol(id_col),
            qcol(group_col),
            "familiarity",
            F.when(F.col("familiarity") >= F.col("__hi"), F.lit("head"))
            .when(F.col("familiarity") >= F.col("__lo"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def code_prose_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    code_threshold_ppm: int = 300_000,
) -> DataFrame:
    """Code-vs-prose routing signal: per document, the share of non-empty
    lines that look like source code — the line heuristics every public
    pretraining mix uses to route documents to the code or prose pipeline
    (and to weight the code fraction of the final mixture).

    A non-empty line is "code-ish" when ANY of (deterministic, RE2-shared
    regex so the DuckDB oracle mirrors it exactly):

    - it is indented ≥4 spaces or a tab (original indentation, pre-trim);
    - its trimmed form ends in ``;`` ``{`` or ``}``;
    - its trimmed form starts with a common code keyword
      (def/class/import/from/return/function/var/let/const/#include).

    All JVM lambda expressions over ONE hoisted line split; integer ppm
    with the BIGINT promote before the multiply (ANSI), so the routing
    decision is bit-stable cross-engine. Zero shuffles.

    Output: (id_col, ``n_lines`` bigint non-empty lines, ``n_code_lines``
    bigint, ``code_ppm`` bigint, ``is_code`` boolean).
    """
    reject_reserved(df, ("__cl", "__ne"), "code_prose_stats")
    code_pred = (
        "l rlike '^(    |\\t)' OR trim(l) rlike '[;{}]$' "
        "OR trim(l) rlike "
        "'^(def |class |import |from |return|function |var |let |const |#include)'"
    )
    base = df.withColumn(
        "__ne",
        F.expr(f"filter(split({qident(text_col)}, '\\n'), l -> trim(l) != '')"),
    ).withColumn("__cl", F.expr(f"filter(__ne, l -> {code_pred})"))
    return base.select(
        qcol(id_col),
        F.expr("size(__ne)").cast("long").alias("n_lines"),
        F.expr("size(__cl)").cast("long").alias("n_code_lines"),
        F.expr(
            "(CAST(1000000 AS BIGINT) * size(__cl)) DIV greatest(size(__ne), 1)"
        ).alias("code_ppm"),
    ).withColumn("is_code", F.col("code_ppm") >= int(code_threshold_ppm))


def encoding_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bad_ppm: int = 1_000,
) -> DataFrame:
    """Mojibake/garbage detector: per document the count of Unicode
    replacement characters (U+FFFD — what a decoder emits on invalid
    bytes) and of C0 control characters other than tab/newline/CR, and
    their combined density in ppm of the character count — the standard
    "did this document survive charset detection" gate run before any
    text op (broken encodings poison tokenizers and dedup hashes alike).

    Counting is ``length(x) - length(regexp_replace(x, bad, ''))`` (one
    JVM regex pass per class; exact integers); density uses the BIGINT
    promote before the multiply. Zero shuffles.

    Output: (id_col, ``n_chars`` bigint, ``n_replacement`` bigint,
    ``n_control`` bigint, ``bad_ppm`` bigint, ``encoding_ok`` boolean).
    """
    reject_reserved(df, ("__nc", "__nr", "__nk"), "encoding_quality")
    # � via a Python literal (Spark SQL chr() wraps at 256); the
    # control class stays in shared RE2 syntax
    repl_count = F.length(qcol(text_col)) - F.length(
        F.regexp_replace(qcol(text_col), F.lit("�"), F.lit(""))
    )
    ctrl_count = F.length(qcol(text_col)) - F.length(
        F.regexp_replace(
            qcol(text_col),
            F.lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"),
            F.lit(""),
        )
    )
    base = (
        df.withColumn("__nc", F.length(qcol(text_col)).cast("long"))
        .withColumn("__nr", repl_count.cast("long"))
        .withColumn("__nk", ctrl_count.cast("long"))
    )
    return base.select(
        qcol(id_col),
        F.col("__nc").alias("n_chars"),
        F.col("__nr").alias("n_replacement"),
        F.col("__nk").alias("n_control"),
        F.expr(
            "(CAST(1000000 AS BIGINT) * (__nr + __nk))"
            " DIV greatest(__nc, 1)"
        ).alias("bad_ppm"),
    ).withColumn("encoding_ok", F.col("bad_ppm") <= int(max_bad_ppm))


def word_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shannon entropy (bits) of the per-document word distribution —
    the information-density quality signal: near-zero entropy marks
    degenerate/template pages (one token repeated), unusually high
    entropy marks tag-soup and random-string garbage; corpus recipes gate
    on both tails.

    Computed as ``log2(n) - sum(c*log2(c))/n`` over per-word counts
    ``c`` — exact integer counts feed one float expression per document,
    rounded to 6 decimals so any SQL engine replays it bit-stably.

    Shape: explode words → count per (doc, word) → sum per doc — two
    shuffles, both map-side combinable; the same linear distributed
    shape as ``unigram_familiarity``, nothing quadratic in document
    length (unlike a per-row ``filter()`` scan per distinct word).

    Output: (id_col, ``n_words`` bigint, ``n_distinct`` bigint,
    ``entropy_bits`` double).
    """
    reject_reserved(df, ("__w", "__c"), "word_entropy")
    counts = (
        df.select(
            qcol(id_col),
            F.explode(F.expr(split_words(qident(text_col)))).alias("__w"),
        )
        .groupBy(qcol(id_col), F.col("__w"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        counts.groupBy(qcol(id_col))
        .agg(
            F.sum("__c").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.expr("__c * log2(__c)")).alias("__clog"),
        )
        .select(
            qcol(id_col),
            F.col("n_words"),
            F.col("n_distinct"),
            F.round(
                F.log2(F.col("n_words")) - F.col("__clog") / F.col("n_words"),
                6,
            ).alias("entropy_bits"),
        )
    )
