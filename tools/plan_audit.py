"""Plan audits over the registry: one CLI over ucl_data_pipeline_spark.plan_audit.

Every subcommand builds the named queries (default: the whole registry,
sorted) at ``--sf-dir`` and inspects their static physical plans through
the one shared walker; see the plan_audit module docstring for what the
walker unwraps.

  bnlj [query ...]        BroadcastNestedLoopJoin build-side census (JSON).
                          Exits 1 when a query has more ``UNBOUNDED?``
                          findings than ADJUDICATED allows it.
  broadcast [query ...]   broadcast joins whose build side holds a
                          Generate/Window — estimate-blind static
                          broadcasts (JSON; candidates, adjudicated in
                          SCALE_NOTES round 12).
  windows [query ...]     single-partition Window count per query, the
                          detector behind tests/test_plans.py::
                          test_single_partition_windows_are_allowlisted
                          (prints nonzero counts only).
  subtrees [--top N]      rank queries by plan-node duplication
                          (Scan parquet / Window / hash-aggregate /
                          InMemoryTableScan nodes, cached plans included),
                          with wall seconds from bench_full.json when
                          present. High counts are a LEAD, not a verdict:
                          confirm with an interleaved same-JVM A/B
                          (OPTIMIZATION_r12.md "Measurement discipline").
  explain OUT_DIR SUFFIX query ...
                          write each query's pre-execution
                          ``explain("formatted")`` to
                          OUT_DIR/<query>_<SUFFIX>.txt.

Usage:
    python tools/plan_audit.py [--sf-dir DIR] SUBCOMMAND ... 2>/dev/null

``--sf-dir`` defaults to $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ucl_data_pipeline_spark import get_spark  # noqa: E402
from ucl_data_pipeline_spark import plan_audit  # noqa: E402
from ucl_data_pipeline_spark.plans import REGISTRY  # noqa: E402

# Adjudicated r13 census (SCALE_NOTES r13): every "UNBOUNDED?" finding
# below is an EXPLICIT F.broadcast / literal crossJoin whose build
# grain is bounded by construction; the classifier just cannot see the
# gate (literal predicates, createDataFrame literals, bounded-grain
# aggregates, calendar grains). query -> (max allowed UNBOUNDED?
# findings, the bounded grain). A query exceeding its allowance makes
# ``bnlj`` exit 1 — the mechanical gate for new regressions.
ADJUDICATED: dict[str, tuple[int, str]] = {
    # literal-predicate-bounded probe/query frames (vec_id/doc_id < K)
    "ann_recall_frontier": (2, "literal vec_id<K probe set"),
    "ann_recall_ivf2_at_3": (1, "literal vec_id<K probe set"),
    "ann_recall_ivf_at_3": (1, "literal vec_id<K probe set"),
    "ann_recall_pq_at_3": (1, "literal vec_id<K probe set"),
    "ann_recall_sq8_at_3": (1, "literal vec_id<K probe set"),
    "ann_rrf_fusion": (1, "literal vec_id<K probe set"),
    "embedding_ivf2_topk": (1, "literal vec_id<K probe set"),
    "embedding_ivf_topk": (1, "literal vec_id<K probe set"),
    "embedding_pq_topk": (1, "literal vec_id<K probe set"),
    "embedding_sq8_topk": (1, "literal vec_id<K probe set"),
    # literal parameter frames (createDataFrame -> Scan ExistingRDD)
    "acf_table_daily": (1, "literal lag spine"),
    "hurst_rs_exponent": (1, "literal window-size grid"),
    "periodogram_fixed_freqs": (1, "literal frequency grid"),
    "range_join_bands": (1, "3-row literal band table"),
    "quality_gate_disparity": (2, "literal threshold frame"),
    # bounded-grain aggregates, explicitly broadcast by design
    "err_cascade_metric": (1, "threshold-grain stats"),
    "hard_negative_mining": (1, "query-grain stats"),
    "isotonic_calibration_bins": (2, "bin-grain offsets (<=1024)"),
    "langid_confusion_f1": (1, "label-grain confusion cells"),
    "mann_kendall_trend": (1, "calendar-day grain"),
    "query_likelihood_dirichlet": (1, "scalar mu stats over doc grain"),
    "rbo_ranker_agreement": (1, "depth-grain rank lists"),
    "rocchio_prf_rerank": (5, "top-k PRF centroid / query grain"),
    "source_minhash_overlap": (1, "source-grain sketch table"),
    "t_closeness_check": (1, "bucket-grain distributions"),
    # calendar-bounded daily series (pair generator broadcast)
    "theil_sen_slope_daily": (8, "calendar-day daily aggregate"),
}


def _per_query(spark, sf_dir, names, audit) -> tuple[list[dict], list[str]]:
    """``audit(df)`` findings of every query, each tagged with its name;
    a query that fails to build is listed in the errors, not fatal."""
    findings: list[dict] = []
    errors: list[str] = []
    for n in names:
        try:
            found = audit(REGISTRY[n].fn(spark, sf_dir))
        except Exception as e:  # the audit must cover the full registry
            errors.append(f"{n}: {type(e).__name__}")
            continue
        findings.extend({"query": n, **f} for f in found)
    return findings, errors


def _bnlj(spark, args) -> int:
    findings, errors = _per_query(
        spark, args.sf_dir, args.queries, plan_audit.bnlj_findings
    )
    unbounded = [f for f in findings if f["verdict"] == "UNBOUNDED?"]
    counts = Counter(f["query"] for f in unbounded)
    offenders = {
        q: n for q, n in counts.items() if n > ADJUDICATED.get(q, (0, ""))[0]
    }
    report = {
        "sf_dir": args.sf_dir,
        "n_queries": len(args.queries),
        "n_bnlj": len(findings),
        "by_verdict": dict(Counter(f["verdict"] for f in findings)),
        "unbounded": unbounded,
        "offenders_beyond_adjudicated": offenders,
        "plan_errors": errors,
    }
    print(json.dumps(report, indent=1))
    return 1 if offenders else 0


def _broadcast(spark, args) -> int:
    findings, errors = _per_query(
        spark, args.sf_dir, args.queries, plan_audit.broadcast_findings
    )
    report = {
        "sf_dir": args.sf_dir,
        "n_queries": len(args.queries),
        "n_flagged_broadcasts": len(findings),
        "findings": findings,
        "plan_errors": errors,
    }
    print(json.dumps(report, indent=1))
    return 0


def _windows(spark, args) -> int:
    for name in args.queries:
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            n = plan_audit.single_partition_windows(df)
        except Exception as exc:  # noqa: BLE001
            print(f"{name}\tERROR\t{exc}")
            continue
        if n:
            print(f"{name}\t{n}")
    return 0


def _subtrees(spark, args) -> int:
    try:
        with open(os.path.join(ROOT, "bench_full.json")) as f:
            secs = json.load(f)["queries"]
    except (OSError, ValueError, KeyError):
        secs = {}
    names = sorted(REGISTRY, key=lambda n: -secs.get(n, 0.0))
    rows = []
    for n in names[: max(args.top * 2, 80)]:
        try:
            top = plan_audit.physical_plan(REGISTRY[n].fn(spark, args.sf_dir))
        except Exception as ex:  # noqa: BLE001 — audit must not die on one query
            print(f"SKIP {n}: {str(ex)[:80]}")
            continue
        ops = Counter(node.nodeName() for node in plan_audit.walk(top))
        rows.append(
            (
                sum(c for op, c in ops.items() if op.startswith("Scan parquet")),
                ops["Window"],
                ops["HashAggregate"] + ops["ObjectHashAggregate"],
                ops["InMemoryTableScan"],
                round(secs.get(n, 0.0), 2),
                n,
            )
        )
    rows.sort(reverse=True)
    print("scans  win  agg  imts  bench_s  query")
    for sc, w, ag, im, t, n in rows[: args.top]:
        print(f"{sc:5d} {w:4d} {ag:4d} {im:5d} {t:8.2f}  {n}")
    return 0


def _explain(spark, args) -> int:
    os.makedirs(args.out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in args.queries:
        df = REGISTRY[name].fn(spark, args.sf_dir)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.splitlines()[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf-dir", default=sf_env, required=sf_env is None)
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd, fn in (("bnlj", _bnlj), ("broadcast", _broadcast), ("windows", _windows)):
        p = sub.add_parser(cmd)
        p.add_argument("queries", nargs="*")
        p.set_defaults(run=fn)
    p = sub.add_parser("subtrees")
    p.add_argument("--top", type=int, default=40)
    p.set_defaults(run=_subtrees)
    p = sub.add_parser("explain")
    p.add_argument("out_dir")
    p.add_argument("suffix", help='e.g. "before" / "after"')
    p.add_argument("queries", nargs="+")
    p.set_defaults(run=_explain)
    args = ap.parse_args(argv)
    if getattr(args, "queries", None) == []:
        args.queries = sorted(REGISTRY)

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    return args.run(spark, args)


if __name__ == "__main__":
    sys.exit(main())
