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

__all__ = ["validate_motif", "user_motif_counts"]


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
