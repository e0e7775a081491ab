"""Command-line entry point: run registered queries or the full
reference-parity pipeline from a shell, the way the reference repo is
driven by its scripts (python -m ucl_data_pipeline_spark --help).

Commands
--------
list                      registered queries (name, tags, oracle?)
run NAME [options]        execute one query, print rows or write parquet
pipeline [options]        end-to-end reference pipeline: CSV side tables
                          in, enriched HIST/UPCOMING CSVs out (missing
                          side files degrade gracefully to defaults —
                          reference safe_read semantics)
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(app: str):
    from ucl_data_pipeline_spark import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_list(args: argparse.Namespace) -> int:
    from ucl_data_pipeline_spark.plans import REGISTRY

    for name, q in REGISTRY.items():
        if args.tag and args.tag not in q.tags:
            continue
        oracle = "oracle" if q.oracle else "rows-only"
        print(f"{name:36s} [{', '.join(q.tags)}] ({oracle})")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    from ucl_data_pipeline_spark.plans import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(f"run-{args.name}")
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.out:
        from ucl_data_pipeline_spark.sources.io import write_parquet

        n_rows = write_parquet(df, args.out)
        print(f"wrote {args.out} rows={n_rows}")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def cmd_pipeline(args: argparse.Namespace) -> int:
    """The reference's daily batch, end to end, as one lazy Spark DAG.

    Inputs (CSV, headered, all optional except the matches fact —
    missing side files become empty typed frames and the enrich chain
    stamps defaults, reference ensure_min_files/safe_read semantics):
      raw_football_data.csv     historical matches fact
      raw_theodds_fixtures.csv  upcoming fixtures fact
      team_name_map.csv stadiums.csv ref_baselines.csv injuries.csv
      lineups.csv xg_metrics_hybrid.csv teams_master.csv
    Outputs: HIST_matches.csv, UPCOMING_fixtures.csv (+ a printed
    validation summary per output, taken from what the sink wrote: each
    output lineage runs once).
    """
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.operators.pipeline import (
        bootstrap_team_priors,
        build_hist,
        build_upcoming,
        enrich_matches,
    )
    from ucl_data_pipeline_spark.operators.validate import validation_report
    from ucl_data_pipeline_spark.schemas import (
        HIST_MATCHES,
        RAW_FIXTURES,
        REFERENCE_SCHEMAS,
    )
    from ucl_data_pipeline_spark.sources.io import (
        empty_df,
        read_csv,
        safe_read_csv,
        write_csv,
    )

    spark = _spark("pipeline")
    dd = args.data_dir

    def side(name: str):
        return safe_read_csv(
            spark, os.path.join(dd, f"{name}.csv"), REFERENCE_SCHEMAS[name]
        )

    matches_path = os.path.join(dd, "raw_football_data.csv")
    if os.path.exists(matches_path):
        matches = read_csv(spark, matches_path)
    else:
        print(f"note: {matches_path} missing — emitting empty-but-valid HIST")
        matches = empty_df(spark, HIST_MATCHES)
    fixtures = safe_read_csv(
        spark, os.path.join(dd, "raw_theodds_fixtures.csv"), RAW_FIXTURES
    )

    name_map = side("team_name_map")
    stadiums = side("stadiums")
    refs = side("ref_baselines")
    injuries = side("injuries")
    lineups = side("lineups")
    xg_hybrid = side("xg_metrics_hybrid")
    teams = side("teams_master")
    if teams.isEmpty() and not xg_hybrid.isEmpty():
        # reference bootstrap_team_priors.py: priors derived from hybrid
        # xG when no curated teams_master exists
        teams = bootstrap_team_priors(xg_hybrid)

    outputs = []
    for fact, builder, out_name in (
        (matches, build_hist, "HIST_matches"),
        (fixtures, build_upcoming, "UPCOMING_fixtures"),
    ):
        enriched = enrich_matches(
            fact, name_map, teams, stadiums, refs, injuries, lineups, xg_hybrid
        )
        final = builder(enriched)
        out_path = os.path.join(args.out_dir, out_name)
        n_rows = write_csv(final, out_path)
        outputs.append((out_name, final))
        print(f"wrote {out_path} rows={n_rows}")
    reports = validation_report({name: df for name, df in outputs})
    for out_name, rep in reports.items():
        print(
            f"[{out_name}] rows={rep.n_rows} cols={len(rep.columns)}"
            f" missing={rep.missing_columns}"
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m ucl_data_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--tag", help="filter by tag")
    p_list.set_defaults(fn=cmd_list)

    p_run = sub.add_parser("run", help="run one registered query")
    p_run.add_argument("name")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true")
    p_run.add_argument("--out", help="write parquet here instead of printing")
    p_run.set_defaults(fn=cmd_run)

    p_pipe = sub.add_parser("pipeline", help="reference pipeline end-to-end")
    p_pipe.add_argument("--data-dir", required=True)
    p_pipe.add_argument("--out-dir", required=True)
    p_pipe.set_defaults(fn=cmd_pipeline)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
