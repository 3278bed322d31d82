"""Query registry package — import all plan modules to populate QUERIES/ORACLES.

The registry is then reordered in place for the driver (`driver_order`).
"""

from collections.abc import Collection
from pathlib import Path

from .registry import AS_OF, AS_OF_DATE, ORACLES, QUERIES, query  # noqa: F401

# Each import registers its queries as a side effect.
from . import flagship  # noqa: F401,E402
from . import projections  # noqa: F401,E402
from . import joins  # noqa: F401,E402
from . import aggregates  # noqa: F401,E402
from . import windows  # noqa: F401,E402
from . import gold  # noqa: F401,E402
from . import text  # noqa: F401,E402
from . import dedup  # noqa: F401,E402
from . import similarity  # noqa: F401,E402
from . import streaming  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import advanced  # noqa: F401,E402
from . import classic  # noqa: F401,E402
from . import tpch_more  # noqa: F401,E402
from . import timeseries  # noqa: F401,E402
from . import training  # noqa: F401,E402
from . import tpch2  # noqa: F401,E402
from . import tpch3  # noqa: F401,E402
from . import tpch4  # noqa: F401,E402
from . import medallion  # noqa: F401,E402
from . import diagnostics  # noqa: F401,E402
from . import sketches  # noqa: F401,E402
from . import retrieval  # noqa: F401,E402
from . import graph_analytics  # noqa: F401,E402
from . import spatial  # noqa: F401,E402
from . import pca  # noqa: F401,E402
from . import layout  # noqa: F401,E402
from . import sinks  # noqa: F401,E402

# Re-pin point for a green whose SEMANTICS change, so the driver
# re-proves it: name -> the round the change ships. The pin fronts the
# window until the query is hash-green in a round >= that since-round.
_PINS: dict[str, int] = {}

# Oracle-less rows-only queries (approx sketches, float32 features,
# iterative fp-dependent), ranked dead last in this order: their one
# rows-only row exists and their checked twins carry the hash evidence.
_TAIL = [
    "multimodal_features", "approx_distinct_users",
    "group_quantiles_approx", "dedup_minhash_lsh", "dedup_simhash",
    "similarity_ann_lsh", "similarity_ann_ivf", "embedding_kmeans",
]


def _load_driver_rows(repo_dir: str) -> tuple[set, set, dict]:
    """(hash-green names, all checked names, name -> latest green
    round) across every CORRECTNESS_r*.json the external driver has
    committed to the repo root. Green status is each query's LATEST
    checked round, not a cross-round union, so a regression (green in
    round N, red in N+1) leaves the green set and re-exposes with no
    pin (judge advice r8). Missing or corrupt files are skipped: a
    fresh checkout without driver artifacts gives empty sets."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    latest: dict = {}  # name -> (round, hash_green)
    green_round: dict = {}
    for path in sorted(
        _glob.glob(_os.path.join(repo_dir, "CORRECTNESS_r*.json"))
    ):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = _json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            green = isinstance(row, dict) and bool(row.get("hash_match"))
            if rnd >= latest.get(name, (-1, False))[0]:
                latest[name] = (rnd, green)
            if green:
                green_round[name] = max(green_round.get(name, 0), rnd)
    checked = set(latest)
    greens = {n for n, (_, g) in latest.items() if g}
    return greens, checked, green_round


def driver_order(
    rows: tuple[set[str], set[str], dict[str, int]],
    names: list[str],
    oracles: Collection[str],
    pins: dict[str, int],
    tail: list[str],
) -> list[str]:
    """Order of ``names`` (registration order) for the driver, whose
    correctness gate checks ``queries()`` in dict order up to a cap
    (~50), given the ``(greens, checked, green_round)`` rows of
    ``_load_driver_rows``:

    1. active ``pins``, in dict order;
    2. the re-confirm quota (judge advice r9 item 7): the 5 oldest
       oracle-bearing greens by (latest green round, name), skipping
       actively pinned names, so stale evidence is refreshed each round;
    3. oracle-bearing queries the driver never checked;
    4. checked but red (a regression re-exposes with no pin);
    5. greens, oldest green round first, registration order on ties;
    6. oracle-less queries, ``tail`` names first and in ``tail`` order.
    """
    greens, checked, green_round = rows
    head = [n for n, since in pins.items() if green_round.get(n, 0) < since]
    quota = sorted(
        (green_round.get(n, 0), n)
        for n in names
        if n in oracles and n in greens and n not in head
    )[:5]
    head += [n for _, n in quota]
    rest = [n for n in names if n in oracles and n not in head]
    return (
        head
        + [n for n in rest if n not in checked]
        + [n for n in rest if n in checked and n not in greens]
        + sorted(
            (n for n in rest if n in greens),
            key=lambda n: green_round.get(n, 0),
        )
        + sorted(
            (n for n in names if n not in oracles and n not in head),
            key=lambda n: tail.index(n) if n in tail else len(tail),
        )
    )


def _apply_driver_order() -> None:
    rows = _load_driver_rows(str(Path(__file__).absolute().parents[2]))
    # re-inserting each name moves it to the end: in place, in order
    for n in driver_order(rows, list(QUERIES), ORACLES, _PINS, _TAIL):
        QUERIES[n] = QUERIES.pop(n)
        if n in ORACLES:
            ORACLES[n] = ORACLES.pop(n)


_apply_driver_order()
