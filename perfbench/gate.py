"""Correctness gate: every benchmark run checks the output it measured.

A doc fails when it is missing from the output, appears more than once,
is not an input doc, or (for the seeded oracle sample) its output span
sequence differs from ``extraction.oracle.extract_doc`` on the same
input. Pure Python, so the gate itself is unit-tested without Spark.
"""

from __future__ import annotations

import random
from collections import Counter

Span = tuple  # (kind, text, media_ref, order)


def oracle_sample(n_docs: int, seed: int, k: int) -> list[int]:
    """The seeded doc indices whose spans are compared with the oracle."""
    return sorted(random.Random(seed).sample(range(n_docs), min(k, n_docs)))


def expected_spans(input_spans: list[dict]) -> list[Span]:
    from extraction.oracle import extract_doc

    return [
        (s["kind"], s["text"], s["media_ref"], s["order"])
        for s in extract_doc(input_spans)
    ]


def as_tuples(spans) -> list[Span]:
    """Spark ``Row`` spans (or dicts) as comparable tuples, in stored order."""
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]


def failed_docs(
    input_ids: list[str],
    output_ids: list[str],
    sampled_output: dict[str, list[Span]],
    sampled_expected: dict[str, list[Span]],
) -> set[str]:
    """Doc ids that fail the gate (see module doc)."""
    want = set(input_ids)
    seen = Counter(output_ids)
    bad = {d for d in want if seen[d] != 1}
    bad |= {d for d in seen if d not in want}
    bad |= {
        d
        for d, spans in sampled_expected.items()
        if sampled_output.get(d) != spans
    }
    return bad
