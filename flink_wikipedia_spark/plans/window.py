"""The driver's 50-slot correctness window, computed from committed history.

The driver's correctness gate verifies the FIRST ``WINDOW`` registry
entries only, so registration order decides which queries get fresh
driver evidence. ``plans/__init__`` orders the registry at import with
``rotate(...)`` over the ``CORRECTNESS_r*.json`` files in the checkout
root. The policy, in slot order:

  1. the flagship ``q_windowed_edit_size`` is always slot 1 (it is
     ``entry()``);
  2. names with no passing driver record at all come next — zero
     evidence is the stalest possible evidence;
  3. names in ``CHANGED`` whose newest passing record is older than the
     round recorded for them: changed code with only stale evidence is
     untested code. A passing record at or after that round retires the
     entry by itself; a failed one keeps the name in the window;
  4. one anchor per operator family (``FAMILY_ANCHORS``) stays in the
     window every round, so a family regression cannot hide behind
     rotation;
  5. the remaining slots refresh the stalest evidence first (newest
     passing round ascending, ties alphabetical).

The tail after the window keeps registration order. With no history
files next to the package (an executor importing a shipped archive),
every name falls under rule 2 and the order is still a valid window;
only the driver's order is read by the gate.

``python -m flink_wikipedia_spark.plans.window`` prints the window with
each name's vintage and the rows-only (no-oracle) names in it, the
pre-declaration of the expected gate outcome.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Collection

FLAGSHIP = "q_windowed_edit_size"

# Rule 4: one canonical anchor per semantic family (the families of
# tests/test_plan_audit.py's coverage check), so every family keeps an
# in-window representative by construction.
FAMILY_ANCHORS = [
    "q_filter_events",           # core
    "q_json_extract",            # core / JSON
    "q_word_count",              # text
    "q_pii_redact",              # curation
    "q_dedup_docs_exact",        # dedup
    "q_multimodal_decode",       # multimodal
    "q_similarity_lsh",          # similarity / ANN
    "q_join_orders_customer",    # relational joins
    "q_tpch_q1_pricing_summary", # TPC-H suite
    "q_rank_functions",          # analytic window functions
    "q_dedup_components",        # iterative graph
    "q_keyby_agg_edit_size",     # streaming twin
]

# Rule 3: name -> first driver round that must re-verify it. When a
# builder changes, add its consumers at the newest committed
# CORRECTNESS round + 1. Entries expire on a passing record at or after
# that round; an expired entry has no effect and may be dropped.
CHANGED = {
    name: 17
    for name in [
        "q_ann_ivf",
        "q_ann_ivfpq_refined",
        "q_embedding_neardup_lsh",
        "q_ivfpq_search",
        "q_lm_perplexity",
        "q_pq_codes",
        "q_semantic_dedup",
        "q_simhash",
        "q_tfidf_top_terms",
        "q_tpch_q16_supplier_variety",
    ]
}

WINDOW = 50

# The checkout root: the parent of the package directory, wherever the
# process runs from.
HISTORY_DIR = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def load_history(repo: str = HISTORY_DIR) -> dict[str, int]:
    """Newest PASSING driver round per query name from the
    CORRECTNESS_r*.json files in ``repo``. Passing = hash-green, or the
    designed rows-only outcome (err == 'no_oracle' with a recorded row
    count); a failed run is not fresh evidence."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name, rec in rows.items():
            ok = rec.get("hash_match") is True or (
                rec.get("err") == "no_oracle"
                and rec.get("spark_rows") is not None
            )
            if ok:
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def rotate(
    names: Collection[str],
    newest: dict[str, int],
    changed: dict[str, int] = CHANGED,
) -> list[str]:
    """The ``WINDOW`` names the driver should verify next, in slot order.

    ``names`` is every registered name (aliases included: they are part
    of the driver contract and can hold slots). Raises RuntimeError on a
    policy name that is not registered, or too few names to fill the
    window."""
    unknown = [n for n in [FLAGSHIP, *FAMILY_ANCHORS, *changed] if n not in names]
    if unknown:  # a typo here would silently demote a query
        raise RuntimeError(f"window policy names unknown queries: {unknown}")

    never_checked = sorted(n for n in names if n not in newest)
    unverified = sorted(n for n, rnd in changed.items() if newest.get(n, 0) < rnd)
    stale_order = sorted(
        (n for n in names if n in newest), key=lambda n: (newest[n], n)
    )

    window: list[str] = []
    seen: set[str] = set()
    for n in [FLAGSHIP, *never_checked, *unverified, *FAMILY_ANCHORS, *stale_order]:
        if n not in seen and len(window) < WINDOW:
            window.append(n)
            seen.add(n)
    if len(window) != WINDOW:
        raise RuntimeError(
            f"registry has only {len(window)} names; window needs {WINDOW}"
        )
    return window


if __name__ == "__main__":
    from flink_wikipedia_spark.plans import REGISTRY

    newest = load_history()
    window = list(REGISTRY)[:WINDOW]
    for n in window:
        print(f"{n}  # r{newest[n]}" if n in newest else f"{n}  # no driver row")
    rows_only = [n for n in window if REGISTRY[n].oracle is None]
    print(
        f"\nPRE-DECLARATION: {WINDOW - len(rows_only)}/{WINDOW} expected "
        f"hash-green; {len(rows_only)} rows-only-by-design in-window:"
    )
    for n in rows_only:
        print(f"  {n}")
