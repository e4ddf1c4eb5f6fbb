"""Physical plans of the registered queries: the PLANS.md audit of
every query, or the formatted plans of named ones.

For each query we count the scale-relevant plan features straight out
of `df.explain("formatted")` output:

- **Exchanges** (shuffles) — the dominant cost at 100 TB; fewer is
  better and each one should be justified by a keyed agg/join.
- **BroadcastExchanges/BroadcastHashJoins** — small dims must be
  broadcast, not shuffled.
- **WholeStageCodegen spans** — JVM-compiled expression pipelines;
  Python/UDF boundaries break them.
- **PushedFilters / partial ReadSchema** — predicate pushdown and
  column pruning reaching the parquet scan.

Full formatted plans are embedded for the flagship queries so a
reviewer can check join strategies and scan pruning line by line.

Run:

    python tools/dump_plans.py [--sf dir]
        writes PLANS.md at the repo root;
    python tools/dump_plans.py --out plans/<dir> [--suffix s] q1 q2 ...
        writes plans/<dir>/<query>_<s>.txt, one formatted plan each.

Both use the sf0.01 test data by default (plan shape is sf-invariant
modulo AQE thresholds, and AQE is off for the dump).
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FLAGSHIP = (
    "q_bmp_rib_merge",        # P7 two-batch full-outer merge (engine path)
    "q_bmp_view_routes",      # J1 multi-way dim join (engine path)
    "q_lpm_geo_join",         # J5 bucketed longest-prefix-match
    "q_rpki_containment",     # J7 containment theta-join
    "q_bmp_global_rib",       # A5 global RIB groupBy (engine path)
    "q_minhash_lsh",          # band-bucket join dedup
    "q_ann_ivf",              # IVF inverted-list ANN
)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check_cross_joins(rows_with_plans) -> list[str]:
    from obmp_psql_spark.plans.audit import cross_join_violations
    violations: list[str] = []
    for name, plan in rows_with_plans:
        violations += cross_join_violations(name, plan)
    return violations


def audit(plan: str) -> dict:
    # formatted-mode node headers: "(32) Exchange" / "(7) BroadcastExchange";
    # codegen membership: "[codegen id : N]" in the tree section
    return {
        "shuffles": len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)),
        "broadcasts": len(re.findall(r"^\(\d+\) BroadcastExchange$", plan, re.M)),
        "bhj": len(re.findall(r"^\(\d+\) Broadcast(?:Hash|NestedLoop)Join",
                              plan, re.M)),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
        "scans": len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="Dump physical plans.")
    ap.add_argument("queries", nargs="*",
                    help="queries to dump (none: regenerate PLANS.md)")
    ap.add_argument("--out", help="directory for the named queries' plans")
    ap.add_argument("--suffix", default="",
                    help="file name suffix: <query>_<suffix>.txt")
    ap.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="test data directory")
    args = ap.parse_args()
    if args.queries and not args.out:
        ap.error("--out is required with named queries")
    sf_dir = args.sf
    from obmp_psql_spark.registry import all_specs
    from obmp_psql_spark.session import get_spark

    spark = get_spark("plans")
    # deterministic plan shape: no AQE runtime replanning in the dump
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # audit the gate tier's PRE-materialization DAGs: without this the
    # engine-path queries (q_bmp_rib_merge and friends) report the
    # post-localCheckpoint read — "0 shuffles / 0 scans" — silencing
    # the audit on exactly the hot path it most needs to cover
    import obmp_psql_spark.queries_bmp as _qb
    _qb.PLAN_AUDIT = True
    specs = all_specs()
    if args.queries:
        os.makedirs(args.out, exist_ok=True)
        for name in args.queries:
            path = os.path.join(args.out, name + (
                f"_{args.suffix}" if args.suffix else "") + ".txt")
            with open(path, "w") as fh:
                fh.write(formatted_plan(specs[name].fn(spark, sf_dir)))
            print("wrote", path)
        return

    rows = []
    full: dict[str, str] = {}
    all_plans: list[tuple[str, str]] = []
    for name in sorted(specs):
        try:
            df = specs[name].fn(spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001 — keep the audit total
            rows.append((name, f"error: {exc}"))
            continue
        rows.append((name, audit(plan)))
        all_plans.append((name, plan))
        if name in FLAGSHIP:
            full[name] = plan

    violations = check_cross_joins(all_plans)
    if violations:
        for v in violations:
            print(f"CROSS-JOIN GATE: {v}", file=sys.stderr)
        sys.exit(1)

    out = ["# PLANS — physical-plan audit of every registered query",
           "",
           "Generated by `python tools/dump_plans.py` (AQE off for a",
           f"deterministic dump; sf dir `{sf_dir}`). Columns: shuffle",
           "Exchanges, BroadcastExchanges, broadcast joins, distinct",
           "WholeStageCodegen spans, parquet PushedFilters present,",
           "parquet scans. Every shuffle in the table is a keyed",
           "agg/join/window that genuinely requires repartitioning —",
           "see the embedded flagship plans for the join strategies.",
           "",
           "| query | shuffles | bcast | bcast-joins | codegen | pushdown | scans |",
           "|---|---|---|---|---|---|---|"]
    for name, a in rows:
        if isinstance(a, str):
            out.append(f"| {name} | {a} | | | | | |")
        else:
            out.append(f"| {name} | {a['shuffles']} | {a['broadcasts']} | "
                       f"{a['bhj']} | {a['codegen']} | {a['pushed']} | {a['scans']} |")

    out += ["", "## Flagship plans", ""]
    for name in FLAGSHIP:
        if name in full:
            out += [f"### {name}", "", "```", full[name].rstrip(), "```", ""]

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries audited)")


if __name__ == "__main__":
    main()
