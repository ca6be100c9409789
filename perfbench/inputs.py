"""Seeded inputs: the refresh delta and the query batches.

Both are pure functions of the seed and of the fixed bootstrap corpus
``core.gen.generate_transcripts(n)`` (conversation 0 is its planned
~10 % mega-conversation), so the same seed always yields the same rows.
"""

from __future__ import annotations

import random

from graph_rag_agent_spark.core.gen import generate_conversation, turn_row
from graph_rag_agent_spark.core.vocab import ALL_ALIASES, pattern_form


def seeded_delta(
    base: list[dict], n_convs: int, seed: int, n_changes: int
) -> tuple[list[dict], dict[str, list[str]]]:
    """Post-delta transcripts of a ``generate_transcripts(n_convs)`` base: the seed
    picks conversations to modify (one new turn appended) and to delete,
    and new conversations to add, ``n_changes`` in total."""
    rng = random.Random(f"delta-{seed}")
    n_mod = max(1, n_changes // 3)
    n_add = max(1, n_changes // 3)
    n_del = max(0, n_changes - n_mod - n_add)
    # index 0 is the mega-conversation: leave it alone
    touched = rng.sample(range(1, n_convs), n_mod + n_del)
    modified = {f"conv-{c:06d}" for c in touched[:n_mod]}
    deleted = {f"conv-{c:06d}" for c in touched[n_mod:]}
    rows = [r for r in base if r["conv_id"] not in deleted]
    for conv_id in sorted(modified):
        c = int(conv_id[5:])
        last = max(r["turn_idx"] for r in base if r["conv_id"] == conv_id)
        rows.append(turn_row(c, last + 1, n_convs))
    added = []
    for k in range(n_add):
        c = n_convs + rng.randrange(100_000) * n_add + k
        added.append(f"conv-{c:06d}")
        rows.extend(generate_conversation(c, n_convs))
    return rows, {
        "modified": sorted(modified),
        "deleted": sorted(deleted),
        "added": added,
    }


_QUERY_TEMPLATES = [
    "Tell me about {a} and {b}",
    "How is {a} related to {b}?",
    "{a}和{b}有什么关系？",
    "What happened between {a} and {b} recently",
]


def seeded_queries(seed: int, n_queries: int, id_space: int) -> list[str]:
    """Questions naming two entities each: closed-vocabulary aliases
    or pattern ids from the corpus' id space."""
    rng = random.Random(f"queries-{seed}")

    def entity() -> str:
        if rng.random() < 0.5:
            return rng.choice(ALL_ALIASES)
        return pattern_form(rng.randrange(id_space), rng.randrange(3))

    return [
        rng.choice(_QUERY_TEMPLATES).format(a=entity(), b=entity())
        for _ in range(n_queries)
    ]
