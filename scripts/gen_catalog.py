"""Generate CATALOG.md from the live registry (VERDICT r11 #8).

SURVEY.md §2 is an append-only history (40+ batch tables); this emits
the one-place, current-state view the judge asked for: every registered
query with its category, oracle tier, implementation file:line,
headline-bench membership, and the strongest per-entry verification
evidence (largest scale factor, then newest round) from the committed
CORRECTNESS_SIM_r{N}.json artifacts.

Evidence deliberately reads ONLY the builder-written SIM artifacts —
never the driver's CORRECTNESS_r{N}.json, which lands AFTER the
round's final commit (reading it would make the pinned-fresh test
fail on every driver artifact drop). The driver's own 50-entry sweep
is the stronger, independent gate; this column records the
full-catalog evidence.

    python scripts/gen_catalog.py          # rewrite CATALOG.md
    python scripts/gen_catalog.py --check  # exit 1 if stale

tests/test_survey_totals.py pins CATALOG.md == build_catalog_md().
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _sf_num(sf: str) -> float:
    """'sf0.1' -> 0.1; unparseable tags sort lowest (never shadow a
    real scale factor)."""
    try:
        return float(sf.removeprefix("sf"))
    except ValueError:
        return -1.0


def _sim_evidence() -> dict[str, dict]:
    """Strongest green verification per entry across the SIM artifacts:
    the largest scale factor wins and the newest round breaks ties, so
    a later round's sf0.01 sweep never hides an earlier sf0.1 row."""
    out: dict[str, dict] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_SIM_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        try:
            data = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict) or rec.get("err"):
                continue
            green = (
                rec.get("hash_match")
                or (rec.get("rows_only") and rec.get("rows_match"))
            )
            if not green:
                continue
            sf = str(rec.get("sf") or "sf0.01")
            tier = "hash" if rec.get("hash_match") else "rows-only"
            prev = out.get(name)
            # compare sf NUMERICALLY — lexicographic happens to order
            # sf0.001/sf0.01/sf0.1 but breaks on e.g. sf0.15 vs sf0.2
            # (ADVICE r12)
            if prev and (_sf_num(prev["sf"]), prev["round"]) > (_sf_num(sf), rnd):
                continue
            out[name] = {"round": rnd, "sf": sf, "tier": tier}
    return out


def build_catalog_md() -> str:
    from bench import HEADLINE
    from kafka_s3_etl_spark.plans.registry import GATED, all_queries

    qs = all_queries()
    evidence = _sim_evidence()
    headline = set(HEADLINE)

    lines = [
        "# Catalog — generated from plans/registry.py",
        "",
        "Regenerate with `python scripts/gen_catalog.py`; "
        "tests/test_survey_totals.py fails when stale. Sweep order "
        "(= driver order: oracle tier, cost, module, seq). "
        "\"verified\" is the strongest green row (largest sf, then "
        "newest round) in the committed "
        "CORRECTNESS_SIM_r{N}.json artifacts (the driver's own "
        "CORRECTNESS_r{N}.json sweep is separate, stronger evidence "
        "for the first 50).",
        "",
    ]
    n_oracle = sum(1 for q in qs.values() if q.oracle)
    n_head = sum(1 for n in qs if n in headline)
    lines += [
        f"**{len(qs)} queries** — {n_oracle} oracle-backed, "
        f"{len(qs) - n_oracle} rows-only, {n_head} in the headline "
        f"bench; {len(GATED)} capability-gated "
        f"({', '.join(sorted(GATED))}).",
        "",
        "| # | query | category | tier | impl | headline | verified |",
        "|---|---|---|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(qs.items(), 1):
        src = os.path.relpath(inspect.getsourcefile(q.fn), REPO)
        line = inspect.getsourcelines(q.fn)[1]
        ev = evidence.get(name)
        verified = (
            f"{ev['tier']} @ {ev['sf']} (r{ev['round']})" if ev else "—"
        )
        lines.append(
            f"| {i} | `{name}` | {q.category} | "
            f"{'oracle' if q.oracle else 'rows-only'} | "
            f"{src}:{line} | {'yes' if name in headline else ''} | "
            f"{verified} |"
        )
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    text = build_catalog_md()
    path = os.path.join(REPO, "CATALOG.md")
    if "--check" in sys.argv:
        current = open(path).read() if os.path.exists(path) else ""
        if current != text:
            print("CATALOG.md is stale — run python scripts/gen_catalog.py")
            return 1
        print("CATALOG.md is fresh")
        return 0
    with open(path, "w") as fh:
        fh.write(text)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
