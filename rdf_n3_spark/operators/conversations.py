"""Conversation-level operators over the transcripts table (the
input_hint shape: conv_id, turn_idx, role, text, tool, ts).

Beyond-reference per the brief: a transcripts-corpus pipeline curates
at the CONVERSATION grain before anything else — drop truncated or
malformed dialogues, compute length stats for packing decisions, and
check the role protocol (a conversation whose turns don't alternate
sensibly is usually an ingestion bug, not data).

Scale shapes: :func:`conversation_stats` is ONE map-side-combinable
conv-keyed aggregate (exact integers only — counts, token sums, epoch
seconds); :func:`role_protocol` is one conv-keyed exchange,
per-conversation `array_sort(collect_list)` + JVM HOF fold, state
bounded by that conversation's turn count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """(conv_id, n_turns, n_user, n_assistant, n_tool_role,
    n_tool_calls, n_tokens, n_chars, first_ts, last_ts,
    duration_seconds) — the per-conversation profile every
    transcript-curation decision starts from (length filters, packing
    estimates, truncation screens).

    One map-side-combinable groupBy; every column is an exact integer
    or a raw timestamp (durations in whole epoch seconds — bigint,
    associative, engine-portable), tokens via the pipeline's shared
    lower+space tokenizer."""
    return (
        transcripts.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
            .cast("bigint").alias("n_user"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
            .cast("bigint").alias("n_assistant"),
            F.sum(F.when(F.col("role") == "tool", 1).otherwise(0))
            .cast("bigint").alias("n_tool_role"),
            F.sum(F.when(F.col("tool") != "", 1).otherwise(0))
            .cast("bigint").alias("n_tool_calls"),
            F.sum(F.size(F.split(F.lower("text"), " ")))
            .cast("bigint").alias("n_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("bigint").alias("duration_seconds"),
        )
    )


def role_protocol(transcripts: DataFrame) -> DataFrame:
    """(conv_id, starts_with_user, n_role_repeats, max_role_run, ok)
    — the role-protocol validator: a well-formed dialogue starts with
    a user turn and never repeats a role on consecutive turns
    (``n_role_repeats`` counts adjacent same-role pairs in turn_idx
    order; ``max_role_run`` is the longest same-role streak;
    ``ok = 1`` iff it starts with user and has zero repeats).

    One-exchange plan: per-conversation
    `array_sort(collect_list(struct(turn_idx, role)))` + one
    `aggregate` HOF carrying (prev_role, repeats, run, max_run) —
    per-conversation state only, everything JVM-side."""
    arr = (
        transcripts
        .select("conv_id",
                F.struct(F.col("turn_idx"), F.col("role")).alias("t"))
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("t")).alias("ts_"))
    )
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("rep"),
        F.lit(0).alias("run"), F.lit(0).alias("maxrun"),
    )
    fold = F.aggregate(
        "ts_", init,
        lambda acc, x: F.struct(
            x["role"].alias("prev"),
            (acc["rep"] + F.when(x["role"] == acc["prev"], 1).otherwise(0))
            .alias("rep"),
            F.when(x["role"] == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["maxrun"],
                F.when(x["role"] == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))).alias("maxrun"),
        ),
    )
    first_user = F.when(
        F.element_at("ts_", 1)["role"] == "user", 1).otherwise(0)
    return arr.select(
        "conv_id",
        first_user.cast("int").alias("starts_with_user"),
        fold["rep"].cast("bigint").alias("n_role_repeats"),
        fold["maxrun"].cast("int").alias("max_role_run"),
        F.when((first_user == 1) & (fold["rep"] == 0), 1).otherwise(0)
        .cast("int").alias("ok"),
    )


def turn_transitions(transcripts: DataFrame) -> DataFrame:
    """(role_from, role_to, n, n_convs, total_gap_seconds,
    max_gap_seconds) — the turn-taking transition matrix with timing:
    for every pair of CONSECUTIVE turns (turn_idx order inside one
    conversation), who spoke next and how long the hand-off took.
    The transcript-analytics twin of role_protocol: protocol
    validation flags broken dialogues; the transition matrix profiles
    the corpus-wide conversational dynamics (assistant→tool fan-out
    rate, tool→assistant return latency) a pipeline uses to pick
    truncation and packing policies.

    Gap columns are exact bigint epoch-second sums/maxes (associative,
    engine-portable — the conv_stats duration discipline); no float
    averages cross the oracle boundary: avg = total/n is the reader's
    division.

    Scale shape: one lag window partitioned by conv_id (turn pairing
    never leaves the conversation's partition) into a map-side-
    combinable groupBy on the 9-row role-pair key — the window's
    conv_id exchange is the only data-sized shuffle, and a corpus
    pre-bucketed by conv_id skips even that."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    paired = transcripts.select(
        "conv_id",
        F.lag("role").over(w).alias("role_from"),
        F.col("role").alias("role_to"),
        (F.unix_timestamp("ts")
         - F.lag(F.unix_timestamp("ts")).over(w)).alias("gap_s"),
    ).where(F.col("role_from").isNotNull())
    return paired.groupBy("role_from", "role_to").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
        F.sum("gap_s").cast("bigint").alias("total_gap_seconds"),
        F.max("gap_s").cast("bigint").alias("max_gap_seconds"),
    )


def transition_partials(transcripts: DataFrame) -> DataFrame:
    """Mergeable per-batch state for :func:`turn_transitions` — the
    non-additive member of the continuous-rollup family (a transition
    matrix can't just sum across epochs: a pair's two turns may land
    in different micro-batches).  Exactness precondition: turn_idx is
    DENSE per conversation (0..n-1, the transcripts contract
    role_protocol validates), under which rank-consecutive pairing ==
    idx-adjacent pairing, so adjacency is decidable locally.

    Emits one unified-schema state table per batch:
      kind 'p' — per-(conv_id, role_from, role_to) partials for pairs
        whose BOTH turns are in this batch (n / total / max gap add
        and max across epochs);
      kind 'f' — forward-open turns (no idx+1 partner in this batch);
      kind 'b' — backward-open turns (no idx-1 partner in this batch).
    A later reader matches 'f' rows to 'b' rows at idx+1 across all
    epochs and folds the completed pairs into the matrix — see
    :func:`rdf_n3_spark.streaming.sketches.read_transition_rollup`.

    Scale shape: ONE conv-partitioned window scan computes all three
    kinds (lead decides in-batch adjacency forward, lag backward), so
    the hot foreachBatch path pays a single exchange and a single pass
    — no self-join and no anti-joins."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id", "turn_idx", "role",
        F.unix_timestamp("ts").cast("bigint").alias("es"),
    ).select(
        "*",
        F.lead("turn_idx").over(w).alias("nx_idx"),
        F.lead("role").over(w).alias("nx_role"),
        F.lead("es").over(w).alias("nx_es"),
        F.lag("turn_idx").over(w).alias("pv_idx"),
    )
    adj_next = F.col("nx_idx") == F.col("turn_idx") + 1
    adj_prev = F.col("pv_idx") == F.col("turn_idx") - 1

    pairs = (
        t.where(adj_next)
        .select(
            "conv_id",
            F.col("role").alias("role_from"),
            F.col("nx_role").alias("role_to"),
            (F.col("nx_es") - F.col("es")).alias("gap_s"))
        .groupBy("conv_id", "role_from", "role_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum("gap_s").cast("bigint").alias("total_gap_s"),
             F.max("gap_s").cast("bigint").alias("max_gap_s"))
        .select(F.lit("p").alias("kind"), "conv_id", "role_from",
                "role_to", "n", "total_gap_s", "max_gap_s",
                F.lit(None).cast("int").alias("turn_idx"),
                F.lit(None).cast("string").alias("role"),
                F.lit(None).cast("bigint").alias("es"))
    )

    def _open(kind: str, is_open) -> DataFrame:
        return t.where(is_open).select(
            F.lit(kind).alias("kind"),
            "conv_id",
            F.lit(None).cast("string").alias("role_from"),
            F.lit(None).cast("string").alias("role_to"),
            F.lit(None).cast("bigint").alias("n"),
            F.lit(None).cast("bigint").alias("total_gap_s"),
            F.lit(None).cast("bigint").alias("max_gap_s"),
            "turn_idx", "role", "es",
        )

    # a turn with no idx+1 in the batch is forward-open; its partner
    # (if the conversation continues) arrives backward-open elsewhere
    return (
        pairs
        .unionByName(_open("f", ~F.coalesce(adj_next, F.lit(False))))
        .unionByName(_open("b", ~F.coalesce(adj_prev, F.lit(False))))
    )


def sft_pairs(transcripts: DataFrame,
              min_prompt_tokens: int = 1,
              min_response_tokens: int = 1) -> DataFrame:
    """(conv_id, turn_idx, prompt, response, n_prompt_tokens,
    n_response_tokens, ok) — supervised-fine-tuning pair extraction:
    every ADJACENT user→assistant turn pair (the assistant turn at
    ``turn_idx + 1`` answers the user turn at ``turn_idx``), the
    training-example constructor a transcripts corpus exists to feed.
    ``ok = 1`` iff both sides clear their token floors — pairs are
    emitted with the gate as a column (not pre-filtered) so a curation
    run can audit WHY examples were dropped; filter ``ok = 1`` for the
    training set.  Adjacency is idx-strict (``nx_idx == turn_idx+1``,
    the transition_partials discipline), so a hole left by an earlier
    turn-level filter never welds two distant turns into a fake pair.

    Token counts use the pipeline's shared lower+space tokenizer
    (conversation_stats) — exact integers, engine-portable.

    Scale shape: ONE conv-partitioned lead() window pass (pairing
    never leaves the conversation's partition); the conv_id exchange
    is the only data-sized shuffle, and a corpus pre-bucketed by
    conv_id (materialize discipline) skips even that."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id", "turn_idx", "role", "text",
        F.lead("turn_idx").over(w).alias("__nx_idx"),
        F.lead("role").over(w).alias("__nx_role"),
        F.lead("text").over(w).alias("__nx_text"),
    )
    ntok = lambda c: F.size(F.split(F.lower(c), " ")).cast("int")  # noqa: E731
    pairs = t.where(
        (F.col("role") == "user")
        & (F.col("__nx_role") == "assistant")
        & (F.col("__nx_idx") == F.col("turn_idx") + 1)
    )
    np_, nr = ntok(F.col("text")), ntok(F.col("__nx_text"))
    return pairs.select(
        "conv_id", "turn_idx",
        F.col("text").alias("prompt"),
        F.col("__nx_text").alias("response"),
        np_.alias("n_prompt_tokens"),
        nr.alias("n_response_tokens"),
        F.when(
            (F.col("text") != "") & (F.col("__nx_text") != "")
            & (np_ >= min_prompt_tokens) & (nr >= min_response_tokens),
            1).otherwise(0).cast("int").alias("ok"),
    )


def tool_chains(transcripts: DataFrame) -> DataFrame:
    """(conv_id, n_calls, n_distinct_tools, first_tool, last_tool,
    chain) — per-conversation agent tool-usage mining: the ordered
    sequence of tool invocations (turns with a non-empty ``tool``),
    fingerprinted as a '>'-joined chain string.  The agent-behavior
    profile a transcripts pipeline groups on: chain frequencies find
    canonical workflows, singleton chains find exploration/failure
    modes.  Conversations with zero tool calls emit nothing (they
    have no chain to mine — count them from conversation_stats).

    Scale shape: filter first (tool turns are a small fraction of
    rows), then ONE conv-keyed `array_sort(collect_list(struct))` +
    JVM HOFs — per-conversation state bounded by its own call count,
    the role_protocol discipline."""
    calls = transcripts.where(F.col("tool") != "").select(
        "conv_id", F.struct("turn_idx", "tool").alias("t"))
    arr = (calls.groupBy("conv_id")
           .agg(F.array_sort(F.collect_list("t")).alias("ts_")))
    tools = F.transform("ts_", lambda x: x["tool"])
    return arr.select(
        "conv_id",
        F.size("ts_").cast("bigint").alias("n_calls"),
        F.size(F.array_distinct(tools)).cast("bigint")
        .alias("n_distinct_tools"),
        F.element_at(tools, 1).alias("first_tool"),
        F.element_at(tools, -1).alias("last_tool"),
        F.array_join(tools, ">").alias("chain"),
    )


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """(tool_from, tool_to, n, n_convs) — the tool-to-tool transition
    matrix over CONSECUTIVE tool invocations within one conversation
    (consecutive in the tool-call subsequence: intervening non-tool
    turns don't break the chain — turn_transitions already profiles
    turn-adjacent dynamics).  The corpus-wide counterpart of
    tool_chains: which tool follows which, and in how many distinct
    conversations — the bigram model of agent behavior.

    Scale shape: filter to tool turns, ONE conv-partitioned lag()
    window on the subsequence, map-side-combinable groupBy on the
    (tool_from, tool_to) key — the turn_transitions plan on a much
    smaller input."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    calls = transcripts.where(F.col("tool") != "").select(
        "conv_id", "turn_idx", "tool")
    paired = calls.select(
        "conv_id",
        F.lag("tool").over(w).alias("tool_from"),
        F.col("tool").alias("tool_to"),
    ).where(F.col("tool_from").isNotNull())
    return paired.groupBy("tool_from", "tool_to").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
    )


def conv_dedup(transcripts: DataFrame) -> DataFrame:
    """(conv_id, fp, keeper_conv_id, keep) — conversation-grain EXACT
    dedup: two conversations are duplicates iff their full ordered
    (role, text) turn sequences are identical.  The first curation
    pass over a harvested transcripts corpus (re-ingested sessions,
    mirrored logs, retry storms produce byte-identical dialogues);
    near-dup at this grain is the document-side minhash family's job.
    ``fp`` is a hash-of-hashes: each turn is collapsed to
    md5("role:text") BEFORE the conversation exchange, and the
    conversation fingerprint is the md5 of those fixed-width per-turn
    hashes concatenated in turn_idx order (fixed width ⇒ no join-
    separator collisions by construction).  The keeper is the
    smallest conv_id per fingerprint (deterministic on any
    partitioning), ``keep = 1`` marks it.  Every conversation is
    emitted with its verdict — the dedup_exact auditability contract.

    Scale shape: the per-turn hash is a narrow map BEFORE the shuffle,
    so the conv-keyed exchange carries 32 hex chars per turn instead
    of the turn text (the dominant byte volume at corpus scale); then
    one `array_sort(collect_list)` fold (per-conversation state only)
    and one window min over the CONV-GRAIN fingerprint table
    (≪ turns).  Identical conversations hash to one fp key; a viral
    duplicate makes that key hot ONLY in the tiny fp table, never in
    the turn-sized exchange."""
    from pyspark.sql import Window

    fp = (
        transcripts
        .select("conv_id",
                F.struct("turn_idx",
                         F.md5(F.concat_ws(":", "role", "text"))
                         .alias("h"))
                .alias("t"))
        .groupBy("conv_id")
        .agg(F.md5(F.array_join(
            F.transform(F.array_sort(F.collect_list("t")),
                        lambda x: x["h"]),
            "")).alias("fp"))
    )
    w = Window.partitionBy("fp")
    return fp.select(
        "conv_id", "fp",
        F.min("conv_id").over(w).alias("keeper_conv_id"),
        F.when(F.col("conv_id") == F.min("conv_id").over(w), 1)
        .otherwise(0).cast("int").alias("keep"),
    )


def turn_templates(transcripts: DataFrame,
                   min_count: int = 5) -> DataFrame:
    """(role, text, n, n_convs) — turn-grain template detection: exact
    turn texts repeated ≥ ``min_count`` times corpus-wide, with how
    many distinct conversations they appear in.  The transcripts twin
    of document boilerplate mining: canned assistant responses, retry
    prompts, and injected system strings repeat verbatim across
    conversations, and a training-data pipeline either down-weights
    or strips them (high n with n_convs ≈ n means corpus-wide
    boilerplate; n_convs ≪ n means one conversation looping).

    Scale shape: ONE map-side-combinable groupBy on (role, text) —
    a template key is hot by definition, and partial aggregation
    collapses it to one partial per partition; the floor keeps the
    output template-sized."""
    return (
        transcripts.groupBy("role", "text")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.countDistinct("conv_id").cast("bigint").alias("n_convs"))
        .where(F.col("n") >= min_count)
    )


def conv_segments(transcripts: DataFrame,
                  threshold_pct: int = 20) -> DataFrame:
    """(conv_id, turn_idx, n_shared, n_union, boundary, seg_idx) —
    lexical topic segmentation: a turn opens a new segment when its
    token-set Jaccard overlap with the PREVIOUS turn falls below
    ``threshold_pct``/100 (TextTiling's adjacent-window test at the
    turn grain).  Long multi-topic conversations are the norm in agent
    transcripts, and training pipelines chunk them at topic shifts
    rather than mid-thought — ``seg_idx`` is the chunk key a packer
    groups on.

    Exactness contract: the overlap test is kept RATIONAL —
    ``n_shared * 100 < threshold_pct * n_union`` on exact set sizes
    (shared lower+space tokenizer, per-turn distinct) — so there is no
    float in the operator and the DuckDB mirror agrees bit-for-bit.

    Scale shape: one conv_id exchange funds BOTH windows (the lag
    pairing and the running boundary sum); the token sets are in-row
    array ops, fully codegen'd — no join, no second shuffle, and the
    conv_id partitioning is the same one every downstream
    per-conversation stage reuses.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    toks = F.array_distinct(F.split(F.lower("text"), " "))
    d = (
        transcripts.select("conv_id", "turn_idx", toks.alias("toks"))
        .withColumn("prev", F.lag("toks").over(w))
        .withColumn(
            "n_shared",
            F.when(F.col("prev").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("toks", "prev")))
            .cast("int"))
        .withColumn(
            "n_union",
            F.when(F.col("prev").isNull(), F.lit(0))
            .otherwise(F.size(F.array_union("toks", "prev")))
            .cast("int"))
        .withColumn(
            "boundary",
            F.when(
                F.col("prev").isNull()
                | (F.col("n_shared") * 100
                   < F.lit(int(threshold_pct)) * F.col("n_union")),
                1).otherwise(0).cast("int"))
    )
    seg = (F.sum("boundary")
           .over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
    return d.select(
        "conv_id", "turn_idx", "n_shared", "n_union", "boundary",
        seg.cast("int").alias("seg_idx"),
    )
