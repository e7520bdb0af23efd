"""The ``task_graph`` workload: one fixed graph shape in the reference's
futures idiom, and the same graph evaluated in plain Python.

Per call: scatter the seeded array, a ``map`` wave of ``width`` partial
sums of squares, a pairwise ``submit`` tree reduce and a two-step chain.
At width 8 that is 6 dependency layers (Spark jobs) and 17 tasks.
"""

from __future__ import annotations

MOD = 1_000_003


def part_sum_sq(x, i, width):
    return int((x[i::width].astype("int64") ** 2).sum())


def add(a, b):
    return a + b


def fold(s):
    return s % MOD


def finish(t):
    return t * 7 + 3


def submit_graph(client, x, width):
    """Build one call's graph on ``client``; returns the final future."""
    ref = client.scatter(x)
    parts = client.map(part_sum_sq, [ref] * width, range(width), [width] * width)
    while len(parts) > 1:
        parts = [client.submit(add, parts[j], parts[j + 1])
                 for j in range(0, len(parts), 2)]
    return client.submit(finish, client.submit(fold, parts[0]))


def expected(values, width):
    """The graph's value computed with Python integers only."""
    parts = [sum(v * v for v in values[i::width]) for i in range(width)]
    return finish(fold(sum(parts)))
