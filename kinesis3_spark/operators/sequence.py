"""Contiguous motif matching over per-key ordered event sequences — the
MATCH_RECOGNIZE class, lifted to a parameterized operator (round 14,
generalizing the round-13 hardcoded ``vc*p`` funnel query).

Each key's events become one ordered symbol string (one map-side-combinable
keyed rollup — the sessionization envelope: memory bounded by that key's
event count, nothing global-sorts), and the motif is counted with a single
``regexp_count`` in the same stage. Because the oracle side (DuckDB, RE2)
and the engine side (Spark, java.util.regex) must count IDENTICALLY, the
accepted pattern language is validated down to the subset where the two
semantics — and leftmost non-overlapping counting — provably coincide:

- literal symbols drawn from the declared alphabet
- character classes ``[...]`` of alphabet symbols (no negation, no ranges)
- grouping ``( )``, alternation ``|``
- quantifiers ``*`` ``+`` ``?`` and bounded ``{m}`` / ``{m,n}``

Everything else — backslash escapes, ``.``, anchors, lookaround,
backreferences, possessive/reluctant quantifiers, and NULLABLE patterns
(matching the empty string — the zero-width-match zone where engines'
count semantics diverge) — is rejected at call time, so a pattern that
validates here runs on both engines with the same answer by construction.

Reference parity note: the reference engine has no sequence-pattern
operator; this generalizes its funnel-style event queries (core.clj's
event pipeline) into the standard MATCH_RECOGNIZE shape.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["validate_motif", "user_motif_counts", "user_motif_measures"]


def validate_motif(pattern: str, alphabet: str) -> str:
    """Return `pattern` if it is inside the RE2-and-Java-identical subset
    over `alphabet`, else raise ValueError naming the offending position.

    The scan is a strict tokenizer — anything not explicitly allowed is
    rejected, so new regex features can never leak in silently."""
    if not pattern:
        raise ValueError("empty motif pattern")
    bad = set(alphabet) & set("()[]{}|*+?\\.^$")
    if bad:
        raise ValueError(f"alphabet symbols collide with metachars: {sorted(bad)}")
    i, n = 0, len(pattern)
    prev_quant = False
    while i < n:
        ch = pattern[i]
        if ch in "*+?" or ch == "{":
            # a quantifier stacked on a quantifier (*?, *+, {2}?) would be
            # reluctant/possessive — Java-only or count-divergent vs RE2.
            if prev_quant:
                raise ValueError(
                    f"stacked quantifier at {i} (reluctant/possessive forms "
                    f"are outside the RE2-and-Java-identical subset): {pattern!r}"
                )
            prev_quant = True
        else:
            prev_quant = False
        if ch in alphabet or ch in "()|*+?":
            i += 1
        elif ch == "[":
            j = pattern.find("]", i + 1)
            if j == -1:
                raise ValueError(f"unclosed character class at {i}: {pattern!r}")
            cls = pattern[i + 1 : j]
            if not cls or any(c not in alphabet for c in cls):
                raise ValueError(
                    f"character class {cls!r} at {i} must be non-empty "
                    f"alphabet symbols only (no ^, -, escapes)"
                )
            i = j + 1
        elif ch == "{":
            m = re.match(r"\{\d+(,\d+)?\}", pattern[i:])
            if not m:
                raise ValueError(f"malformed bounded quantifier at {i}: {pattern!r}")
            i += m.end()
        else:
            raise ValueError(
                f"char {ch!r} at {i} outside the validated motif subset "
                f"(alphabet {alphabet!r} + class/group/alt/quantifier)"
            )
    try:
        compiled = re.compile(pattern)
    except re.error as e:  # e.g. dangling quantifier, unbalanced parens
        raise ValueError(f"motif does not compile: {e}") from None
    # NULLABLE motifs (matching the empty string) are rejected: zero-width
    # matches are exactly where the engines' count semantics diverge
    # (after an empty match, Python re retries the same position for a
    # non-empty match while RE2 and java.util.regex advance — 'e*|c' on
    # "c" counts 3 vs 2; found by the cross-engine hypothesis property in
    # tests/test_sequence_ops.py). A motif with no empty match has only
    # length>=1 matches, where leftmost-first non-overlapping counting
    # provably coincides — and an empty-matching "motif" (a hit between
    # every two events) is meaningless for sequence analysis anyway.
    if compiled.fullmatch(""):
        raise ValueError(
            f"nullable motif {pattern!r} (matches the empty string) — "
            f"zero-width match counting diverges across engines; anchor "
            f"the motif with at least one required symbol"
        )
    return pattern


def user_motif_counts(events: DataFrame, pattern: str, alphabet: str) -> DataFrame:
    """(user_id, n_matches): leftmost non-overlapping count of the contiguous
    `pattern` motif in each user's symbol sequence: one symbol per event,
    the first letter of its event_type, ordered by (ts, event_id).

    Plan shape (the only one that scales): one groupBy(key) whose
    aggregate is array_sort(collect_list(struct(order..., symbol))) —
    partial-aggregated map-side — then transform/concat_ws to the symbol
    string and regexp_count, all inside the post-shuffle project of the
    SAME stage. No window, no second shuffle, no per-row Python."""
    validate_motif(pattern, alphabet)
    seq = events.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id",
                            F.substring("event_type", 1, 1).alias("__sym"),
                        )
                    )
                ),
                lambda x: x["__sym"],
            ),
        ).alias("seq")
    )
    return seq.select(
        "user_id",
        F.regexp_count("seq", F.lit(pattern)).cast("bigint").alias("n_matches"),
    )


def user_motif_measures(events: DataFrame, pattern: str, alphabet: str) -> DataFrame:
    """MATCH_RECOGNIZE MEASURES for the contiguous motif: per key, one
    row per match with its position, symbol length, and wall-clock span
    — `user_motif_counts` answers HOW MANY, this answers WHERE and HOW
    LONG. Columns: (key, match_no 1-based, start_idx 0-based in the
    key's event order, match_len, t_start, t_end).

    Because one symbol == one event, match positions in the symbol
    string map straight back to event indices. Positions are recovered
    WITHOUT a second regex engine pass over per-match loops: the
    sequence splits around the matches (split keeps trailing empties so
    segment i is exactly the gap before match i), and
      start_i = Σ_{j≤i} len(seg_j) + Σ_{j<i} len(match_j)
    is a pure array fold — transform/slice/aggregate, all JVM built-ins
    in the SAME post-shuffle stage as the rollup that built the string.
    Same one-shuffle envelope as the counter; the per-key arrays are the
    sessionization bound."""
    validate_motif(pattern, alphabet)
    base = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "ts", "event_id",
                    F.substring("event_type", 1, 1).alias("__sym"),
                    F.col("ts").alias("__ts"),
                )
            )
        ).alias("__evs")
    )
    seq = base.select(
        "user_id",
        "__evs",
        F.concat_ws(
            "", F.transform("__evs", lambda x: x["__sym"])
        ).alias("seq"),
    )
    lit = F.lit(pattern)
    m = seq.select(
        "user_id",
        "__evs",
        F.regexp_extract_all("seq", lit, 0).alias("__m"),
        F.split("seq", pattern, -1).alias("__s"),
    ).where(F.size("__m") > 0)
    seg_lens = F.transform("__s", lambda x: F.length(x))
    match_lens = F.transform("__m", lambda x: F.length(x))
    m = m.select(
        "user_id",
        "__evs",
        match_lens.alias("__ml"),
        seg_lens.alias("__sl"),
    )
    add = lambda acc, v: acc + v  # noqa: E731
    starts = F.transform(
        "__ml",
        lambda x, i: F.aggregate(F.slice("__sl", 1, i + 1), F.lit(0), add)
        + F.aggregate(F.slice("__ml", 1, i), F.lit(0), add),
    )
    m = m.select("user_id", "__evs", "__ml", starts.alias("__st"))
    out = m.select(
        "user_id",
        F.posexplode(F.arrays_zip("__st", "__ml")).alias("__i", "__z"),
        "__evs",
    ).select(
        "user_id",
        (F.col("__i") + 1).alias("match_no"),
        F.col("__z.__st").alias("start_idx"),
        F.col("__z.__ml").alias("match_len"),
        F.element_at("__evs", F.col("__z.__st") + 1)["__ts"].alias("t_start"),
        F.element_at("__evs", F.col("__z.__st") + F.col("__z.__ml"))["__ts"].alias(
            "t_end"
        ),
    )
    return out
