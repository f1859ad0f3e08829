"""Conversation-level training-data operators over transcript turns.

The engine's payload IS multi-turn conversation transcripts
(conv_id, turn_idx, role, text, ...); these operators turn cleaned
transcripts into the artifacts an LLM training pipeline actually consumes:

- ``render_chat_template``: one training document per conversation, turns
  concatenated in order under a chat template (ChatML-style markers or a
  plain ``role: text`` format). The format-string shapes are public
  conventions (ChatML markers appear throughout open-source chat
  fine-tuning stacks).
- ``sft_pairs``: one (context, response) example per assistant turn —
  the supervised-fine-tuning view where the model learns to produce each
  assistant message given everything before it.
- ``response_echo``: per SFT example, how much of the response is echoed
  from its context (distinct word n-gram overlap) — the standard
  copy/parroting filter applied before a response is used as a training
  target.
- ``preference_pairs``: best-of-group (chosen, rejected) response pairs
  ranked by a deterministic integer quality proxy — the
  rejection-sampling / DPO data-prep step. The group key here is the
  conversation (one prompt per sample group in this table); production
  corpora with multiple sampled responses per prompt pass the prompt id.

All are pure JVM expressions (collect_list + array ops / window
aggregates) — no Python in the hot path — and each shuffles exactly once
on the conversation key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from autoscan_spark.operators.sqlutil import (
    qcol,
    qident,
    reject_reserved,
    shingle_expr,
    split_words,
    with_words,
)

TEMPLATES = ("chatml", "colon")


def render_chat_template(
    df: DataFrame,
    template: str = "chatml",
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Fold a conversation's turns, in ``turn_idx`` order, into ONE
    training text under a chat template.

    Templates:
    - ``chatml``: ``<|im_start|>{role}\\n{text}<|im_end|>\\n`` per turn.
    - ``colon``: ``{role}: {text}\\n`` per turn.

    Output: (conv_col, ``n_turns``, ``training_text``). One shuffle
    (groupBy conv); per-conversation ordering via ``array_sort`` over
    ``(turn_idx, role, text)`` structs — the same JVM fold shape
    ``fold_documents`` uses, so turn order is total and deterministic.
    """
    if template not in TEMPLATES:
        raise ValueError(f"template must be one of {TEMPLATES}, got {template!r}")
    if template == "chatml":
        render = lambda s: F.concat(  # noqa: E731
            F.lit("<|im_start|>"), s["__role"], F.lit("\n"),
            s["__text"], F.lit("<|im_end|>\n"),
        )
    else:
        render = lambda s: F.concat(  # noqa: E731
            s["__role"], F.lit(": "), s["__text"], F.lit("\n")
        )
    return (
        df.select(
            qcol(conv_col),
            F.struct(
                qcol(turn_col).alias("__ti"),
                qcol(role_col).alias("__role"),
                qcol(text_col).alias("__text"),
            ).alias("__t"),
        )
        .groupBy(qcol(conv_col))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("__t")), render), ""
            ).alias("training_text"),
        )
    )


def sft_pairs(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    assistant_role: str = "assistant",
) -> DataFrame:
    """One supervised-fine-tuning example per assistant turn:
    ``context`` = all PRIOR turns rendered ``role: text`` joined by
    newlines, ``response`` = the assistant turn's text.

    Output: (conv_col, turn_col, ``context``, ``response``). Shape: ONE
    shuffle — a window ``collect_list`` over
    ``(partition by conv order by turn_idx rows unbounded preceding to 1
    preceding)``; the frame ordering makes the context deterministic. An
    assistant turn with no prior turns gets an empty context (coalesced,
    not NULL).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(qcol(conv_col))
        .orderBy(qcol(turn_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    line = F.concat(qcol(role_col), F.lit(": "), qcol(text_col))
    return (
        df.withColumn(
            "context",
            F.coalesce(
                F.array_join(F.collect_list(line).over(w), "\n"), F.lit("")
            ),
        )
        .filter(qcol(role_col) == assistant_role)
        .select(
            qcol(conv_col),
            qcol(turn_col),
            "context",
            qcol(text_col).alias("response"),
        )
    )


def response_echo(
    df: DataFrame,
    n: int = 3,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Per SFT example, the share of the response already present in its
    context: distinct word ``n``-gram overlap. High echo = the assistant
    mostly repeated the prompt — a response that teaches the model to
    parrot, filtered out by every public SFT-quality recipe.

    Output: (conv_col, turn_col, ``n_resp_ngrams``, ``n_echoed``,
    ``echo_ppm``) — exact integers (parts-per-million, integer division)
    so the signal is bit-stable cross-engine. Shape: ``sft_pairs``'s one
    conversation-window shuffle, then per-row JVM array expressions; the
    n-gram arrays never shuffle.
    """
    pairs = sft_pairs(
        df,
        conv_col=conv_col,
        turn_col=turn_col,
        role_col=role_col,
        text_col=text_col,
        assistant_role=assistant_role,
    )
    # sft_pairs emits a fixed schema, so only a pathological conv/turn
    # column NAME (e.g. conv_col="__rg") can collide with the hoists
    reject_reserved(pairs, ("__rw", "__cw", "__rg", "__cg"), "response_echo")
    return (
        with_words(with_words(pairs, "response", "__rw"), "context", "__cw")
        .withColumn("__rg", F.expr(shingle_expr("__rw", n)))
        .withColumn("__cg", F.expr(shingle_expr("__cw", n)))
        .select(
            qcol(conv_col),
            qcol(turn_col),
            F.size("__rg").cast("long").alias("n_resp_ngrams"),
            F.size(F.array_intersect("__rg", "__cg"))
            .cast("long")
            .alias("n_echoed"),
            # promote the count to BIGINT BEFORE the multiply: INT*INT under
            # Spark 4 ANSI mode throws ARITHMETIC_OVERFLOW for any response
            # with >= 2148 distinct n-grams (1e6 * 2148 > 2^31) — realistic
            # long responses would crash the job
            F.expr(
                "(CAST(1000000 AS BIGINT)"
                " * size(array_intersect(__rg, __cg)))"
                " DIV size(__rg)"
            ).alias("echo_ppm"),
        )
    )


def preference_pairs(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Best-of-group (chosen, rejected) response pairs — the
    rejection-sampling / DPO data-prep step.

    Every assistant response is scored with a deterministic integer
    quality proxy (``alpha_ppm`` = parts-per-million of purely-alphabetic
    words — integer division, no floats, so ranking is bit-stable
    cross-engine). Per group (the conversation key), ``chosen`` is the
    response ranked first by (score DESC, turn_idx ASC) and ``rejected``
    the one ranked last; groups with fewer than two assistant turns emit
    nothing (no pair to form).

    Output: (conv_col, ``chosen_turn``, ``rejected_turn``,
    ``chosen_score_ppm``, ``rejected_score_ppm``, ``chosen_response``,
    ``rejected_response``).

    Shape: ONE shuffle — groupBy(conv) with an ``array_sort`` over
    (negated score, turn_idx) structs; first/last element_at picks the
    extremes. No window, no join, no second pass.
    """
    # the only collision surface is the conversation KEY itself shadowing
    # an internal name (everything else is selected away)
    reject_reserved(
        df.select(qcol(conv_col)), ("__s", "__arr"), "preference_pairs"
    )
    words = split_words(qident(text_col))
    # BIGINT literal before the multiply — INT*INT under ANSI mode throws
    # ARITHMETIC_OVERFLOW for responses with >= 2148 alphabetic words
    score = (
        f"(CAST(1000000 AS BIGINT)"
        f" * size(filter({words}, w -> w rlike '^[a-z]+$')))"
        f" DIV size({words})"
    )
    scored = df.filter(qcol(role_col) == assistant_role).select(
        qcol(conv_col),
        F.struct(
            (-F.expr(score)).alias("__neg_score"),
            qcol(turn_col).alias("__turn"),
            qcol(text_col).alias("__text"),
        ).alias("__s"),
    )
    agg = scored.groupBy(qcol(conv_col)).agg(
        F.array_sort(F.collect_list("__s")).alias("__arr")
    )
    first = F.element_at("__arr", 1)
    last = F.element_at("__arr", -1)
    return agg.filter(F.size("__arr") >= 2).select(
        qcol(conv_col),
        first["__turn"].alias("chosen_turn"),
        last["__turn"].alias("rejected_turn"),
        (-first["__neg_score"]).cast("long").alias("chosen_score_ppm"),
        (-last["__neg_score"]).cast("long").alias("rejected_score_ppm"),
        first["__text"].alias("chosen_response"),
        last["__text"].alias("rejected_response"),
    )


def merge_adjacent_turns(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Collapse each RUN of consecutive same-role turns into one turn —
    the standard transcript normalization before chat-template rendering
    or SFT pair construction (scraped/agent transcripts routinely carry
    double-user or multi-part-assistant runs; downstream pair logic
    assumes alternation).

    Gaps-and-islands: a run boundary is ``role != lag(role)`` in
    ``turn_idx`` order; ``run_id`` is the running sum of boundary flags.
    The merged turn keeps the run's FIRST ``turn_idx``, the shared role,
    the texts joined by ``sep`` in turn order, and ``n_merged``.

    Shape: ONE shuffle — the lag window, the running-sum window, and the
    final groupBy all key on the conversation (group keys (conv, run_id)
    are a superset of the window partition key, so Catalyst reuses the
    one exchange; only sorts are added).

    Output: (conv_col, turn_col, role_col, text_col, ``n_merged``
    bigint).
    """
    from pyspark.sql.window import Window

    reject_reserved(df, ("__prev", "__run", "__t"), "merge_adjacent_turns")
    w = Window.partitionBy(qcol(conv_col)).orderBy(qcol(turn_col))
    run = Window.partitionBy(qcol(conv_col)).orderBy(qcol(turn_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = df.select(
        qcol(conv_col),
        qcol(turn_col),
        qcol(role_col),
        qcol(text_col),
        F.when(
            F.lag(qcol(role_col)).over(w).isNull()
            | (F.lag(qcol(role_col)).over(w) != qcol(role_col)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__new"),
    ).withColumn("__run", F.sum("__new").over(run))
    return (
        flagged.select(
            qcol(conv_col),
            F.col("__run"),
            qcol(role_col),
            F.struct(
                qcol(turn_col).alias("__ti"), qcol(text_col).alias("__tx")
            ).alias("__t"),
            qcol(turn_col),
        )
        .groupBy(qcol(conv_col), F.col("__run"))
        .agg(
            F.min(qcol(turn_col)).alias(turn_col),
            # role is constant within a run; min() is a deterministic pick
            F.min(qcol(role_col)).alias(role_col),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("__t")), lambda s: s["__tx"]
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).cast("long").alias("n_merged"),
        )
        .drop("__run")
    )


def dedup_prompts(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    user_role: str = "user",
) -> DataFrame:
    """Cross-conversation USER-prompt dedup — the SFT-prep step that keeps
    one exemplar per distinct normalized prompt (identical prompts across
    scraped conversations teach the model nothing new and skew the
    instruction distribution; every public SFT recipe dedups them).

    Normalization: lower + trim + whitespace collapse; identity is the
    16-byte md5 of the normalized prompt (binary, half the shuffle bytes
    of hex; 128 bits ≥ birthday-safe at corpus scale). The survivor per
    key is the earliest (conv, turn) and carries ``n_dupes`` = total
    occurrences, so downstream can weight by prompt frequency instead of
    re-counting.

    Shape: one window shuffle on the hash key (same single-pass
    win-or-drop design as ``dedup.exact_dedup`` — count(*) over the same
    partition reuses the one exchange, no join-back)."""
    from pyspark.sql.window import Window

    reject_reserved(df, ("__pk", "__rn"), "dedup_prompts")
    prompts = df.filter(qcol(role_col) == user_role).withColumn(
        "__pk",
        F.unhex(
            F.md5(
                F.expr(
                    f"regexp_replace(trim(lower({qident(text_col)})),"
                    f" '\\\\s+', ' ')"
                )
            )
        ),
    )
    w = Window.partitionBy("__pk").orderBy(qcol(conv_col), qcol(turn_col))
    return (
        prompts.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_dupes",
            F.count(F.lit(1)).over(Window.partitionBy("__pk")).cast("long"),
        )
        .filter(F.col("__rn") == 1)
        .select(
            qcol(conv_col),
            qcol(turn_col),
            qcol(text_col).alias("prompt"),
            "n_dupes",
        )
    )


def conversation_hygiene(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    user_role: str = "user",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Per-conversation structural hygiene report — the validation gate a
    transcript corpus passes through before any extraction/SFT step
    (malformed role sequences poison chat-template rendering and pair
    construction downstream).

    Flags, all exact integers/booleans so the report is bit-stable
    cross-engine:

    - ``n_turns``: total turns.
    - ``n_role_repeats``: adjacent turn pairs (in ``turn_idx`` order)
      with the SAME role — double-user or double-assistant runs.
    - ``starts_with_user`` / ``ends_with_assistant``: the canonical
      prompt-first / response-last envelope.
    - ``is_clean``: no repeats AND canonical envelope.

    Shape: ONE shuffle. The lag window and the groupBy both key on the
    conversation, so Catalyst reuses a single exchange; everything else
    is per-row JVM comparison.
    """
    from pyspark.sql.window import Window

    reject_reserved(df, ("__prev", "__rep"), "conversation_hygiene")
    w = Window.partitionBy(qcol(conv_col)).orderBy(qcol(turn_col))
    lagged = df.select(
        qcol(conv_col),
        qcol(turn_col),
        qcol(role_col),
        F.lag(qcol(role_col)).over(w).alias("__prev"),
    ).withColumn(
        "__rep",
        F.when(qcol(role_col) == F.col("__prev"), F.lit(1)).otherwise(F.lit(0)),
    )
    first_role = F.struct(qcol(turn_col), qcol(role_col))
    return lagged.groupBy(qcol(conv_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("__rep").cast("long").alias("n_role_repeats"),
        (F.min(first_role)[role_col] == user_role).alias("starts_with_user"),
        (F.max(first_role)[role_col] == assistant_role).alias(
            "ends_with_assistant"
        ),
        (
            (F.sum("__rep") == 0)
            & (F.min(first_role)[role_col] == user_role)
            & (F.max(first_role)[role_col] == assistant_role)
        ).alias("is_clean"),
    )


def trim_context(
    df: DataFrame,
    max_tokens: int,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Context-window trimming: keep the longest SUFFIX of each
    conversation whose cumulative whitespace-token count fits in
    ``max_tokens`` — the standard inference/training prep step that drops
    the oldest turns first and never truncates mid-turn. The most recent
    turn always survives (a context that drops the current message is
    useless), even if it alone exceeds the budget.

    Output: the surviving rows as (conv_col, turn_col, text_col,
    ``n_tokens``, ``suffix_tokens``) where ``suffix_tokens`` is the
    running total from the conversation's end back to this turn —
    exact integers, bit-stable cross-engine.

    Shape: ONE shuffle — a single descending-order window per
    conversation computes the reverse cumulative sum and the
    most-recent-row guarantee together.
    """
    from pyspark.sql.window import Window

    if max_tokens < 0:
        raise ValueError(f"max_tokens must be >= 0, got {max_tokens}")
    reject_reserved(df, ("__nt", "__cum", "__rd"), "trim_context")
    # empty/whitespace-only turns count 0 tokens (split('') yields [''])
    n_tokens = F.when(
        F.trim(qcol(text_col)) == "", F.lit(0)
    ).otherwise(F.size(F.expr(split_words(qident(text_col), lower=False))))
    w_desc = Window.partitionBy(qcol(conv_col)).orderBy(qcol(turn_col).desc())
    cum = w_desc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.withColumn("__nt", n_tokens.cast("long"))
        .withColumn("__cum", F.sum("__nt").over(cum))
        .withColumn("__rd", F.row_number().over(w_desc))
        .filter(
            (F.col("__cum") <= F.lit(max_tokens)) | (F.col("__rd") == 1)
        )
        .select(
            qcol(conv_col),
            qcol(turn_col),
            qcol(text_col),
            F.col("__nt").alias("n_tokens"),
            F.col("__cum").alias("suffix_tokens"),
        )
    )


def turn_redundancy(
    df: DataFrame,
    n: int = 2,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Consecutive-assistant-turn redundancy: for every assistant turn
    with an earlier assistant turn in the same conversation, the distinct
    word ``n``-gram overlap with that previous assistant turn — the
    "model repeating itself across turns" signal (high redundancy marks
    degenerate loops and copy-forward answers that SFT recipes drop).
    Complements ``response_echo``: echo measures response-vs-context
    parroting, redundancy measures response-vs-own-previous-response.

    Shape: filter to assistant turns, ONE window shuffle on the
    conversation key for ``lag(text)``, then per-row JVM array
    expressions (both n-gram arrays built from hoisted word splits via
    the shared ``shingle_expr``); the arrays never shuffle. Integer ppm
    with the BIGINT promote before the multiply.

    Output: (conv_col, turn_col, ``n_grams`` bigint, ``n_overlap``
    bigint, ``redund_ppm`` bigint).
    """
    from pyspark.sql.window import Window

    reject_reserved(
        df, ("__prev", "__tw", "__pw", "__tg", "__pg"), "turn_redundancy"
    )
    w = Window.partitionBy(qcol(conv_col)).orderBy(qcol(turn_col))
    pairs = (
        df.filter(qcol(role_col) == assistant_role)
        .withColumn("__prev", F.lag(qcol(text_col)).over(w))
        .filter(F.col("__prev").isNotNull())
    )
    return (
        with_words(with_words(pairs, text_col, "__tw"), "__prev", "__pw")
        .withColumn("__tg", F.expr(shingle_expr("__tw", n)))
        .withColumn("__pg", F.expr(shingle_expr("__pw", n)))
        .select(
            qcol(conv_col),
            qcol(turn_col),
            F.size("__tg").cast("long").alias("n_grams"),
            F.size(F.array_intersect("__tg", "__pg"))
            .cast("long")
            .alias("n_overlap"),
            F.expr(
                "(CAST(1000000 AS BIGINT) * size(array_intersect(__tg, __pg)))"
                " DIV size(__tg)"
            ).alias("redund_ppm"),
        )
    )


# Refusal stems every public assistant-transcript filter greps for (the
# open-data SFT recipes drop or downweight conversations dominated by
# canned refusals / AI self-reference boilerplate). Lowercased substring
# match — LIKE, not regex, so Spark and any ANSI oracle agree byte-for-byte.
REFUSAL_STEMS = (
    "i cannot",
    "i can't",
    "i'm sorry",
    "i am sorry",
    "as an ai",
    "i am unable",
    "i'm unable",
    "i won't",
)


def refusal_stats(
    df: DataFrame,
    stems: tuple = REFUSAL_STEMS,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Per-conversation refusal density — the share of ASSISTANT turns
    that open-source SFT filters would flag as canned refusals /
    AI-boilerplate (lowercased substring match against ``stems``).

    A conversation whose assistant half is mostly refusals teaches the
    model to refuse; pipelines cap or drop them. Integer ppm (BIGINT
    promote before the multiply) so the gate threshold is bit-stable
    cross-engine.

    Shape: ONE shuffle (groupBy conv) over a JVM boolean projection —
    the stem list compiles to a LIKE-OR chain, no regex, no Python.

    Output: (conv_col, ``n_assistant`` bigint, ``n_refusals`` bigint,
    ``refusal_ppm`` bigint).
    """
    reject_reserved(df, ("__refuse",), "refusal_stats")
    lowered = F.lower(qcol(text_col))
    flag = F.lit(False)
    for s in stems:
        flag = flag | lowered.contains(s)
    return (
        df.filter(qcol(role_col) == assistant_role)
        .select(qcol(conv_col), flag.cast("int").alias("__refuse"))
        .groupBy(qcol(conv_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assistant"),
            F.sum("__refuse").cast("long").alias("n_refusals"),
            F.expr(
                "(CAST(1000000 AS BIGINT) * sum(__refuse)) DIV count(1)"
            ).alias("refusal_ppm"),
        )
    )


# Characters a COMPLETE assistant message plausibly ends with: sentence
# terminators, closing quotes/brackets, or a fenced-code backtick. A
# response ending in anything else (a letter, a comma, an open paren) was
# very likely cut off by a token limit — the standard truncation gate.
TERMINAL_CHARS = (".", "!", "?", '"', "'", "`", ")", "]", "}", ":", "*")


def truncation_stats(
    df: DataFrame,
    terminals: tuple = TERMINAL_CHARS,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Per-conversation truncation density: the share of ASSISTANT turns
    whose trimmed text does NOT end in a plausible terminal character —
    the "response was cut off mid-sentence by a length limit" gate every
    SFT-prep recipe applies (a truncated target teaches the model to stop
    mid-thought).

    An empty-after-trim assistant turn also counts as truncated (an
    empty training target is never usable).

    Shape: ONE shuffle (groupBy conv) over a JVM last-char projection
    (``right(trim(text), 1)`` + an IN list — both ANSI, so any SQL
    oracle replays it exactly). Integer ppm, BIGINT promote.

    Output: (conv_col, ``n_assistant`` bigint, ``n_truncated`` bigint,
    ``truncated_ppm`` bigint).
    """
    reject_reserved(df, ("__trunc",), "truncation_stats")
    last = F.expr(f"right(trim({qident(text_col)}), 1)")
    ok = last.isin(*terminals)
    return (
        df.filter(qcol(role_col) == assistant_role)
        .select(
            qcol(conv_col),
            (~F.coalesce(ok, F.lit(False))).cast("int").alias("__trunc"),
        )
        .groupBy(qcol(conv_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assistant"),
            F.sum("__trunc").cast("long").alias("n_truncated"),
            F.expr(
                "(CAST(1000000 AS BIGINT) * sum(__trunc)) DIV count(1)"
            ).alias("truncated_ppm"),
        )
    )


def tool_call_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Per-conversation tool-usage report over agent transcripts — the
    routing signal agentic-data pipelines split on (tool-heavy
    conversations train tool-use; tool-free ones train chat). A turn
    "used a tool" iff ``tool_col`` is non-null and non-empty after trim.

    Output: (conv_col, ``n_turns`` bigint, ``n_tool_turns`` bigint,
    ``n_distinct_tools`` bigint, ``first_tool`` string — lexicographic
    min, deterministic, null when no tools — and ``tool_ppm`` bigint,
    BIGINT-promoted integer division).

    Shape: ONE shuffle (groupBy conv) over per-row JVM projections. The
    distinct-tool count is size(array_distinct(collect_list())) rather
    than count_distinct — a per-conversation tool list is a handful of
    names, and Spark plans count_distinct-with-other-aggs as a second
    Expand exchange this avoids (plan-asserted).
    """
    reject_reserved(df, ("__tl",), "tool_call_stats")
    used = F.when(
        qcol(tool_col).isNotNull() & (F.trim(qcol(tool_col)) != ""),
        F.trim(qcol(tool_col)),
    )
    return (
        df.select(qcol(conv_col), used.alias("__tl"))
        .groupBy(qcol(conv_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.count("__tl").cast("long").alias("n_tool_turns"),
            F.size(F.array_distinct(F.collect_list("__tl")))
            .cast("long")
            .alias("n_distinct_tools"),
            F.min("__tl").alias("first_tool"),
            F.expr(
                "(CAST(1000000 AS BIGINT) * count(__tl)) DIV count(1)"
            ).alias("tool_ppm"),
        )
    )
