"""Production batch entry point (SURVEY.md §3.2).

    spark-submit --py-files dist/hocr_de_noising_spark.zip \
        jobs/run_denoise.py --input <path|table> --output <path|table> \
        --manifest <dir> --lexicon <path> [--buckets 256] [--salt 42] \
        [--groups 8] [--mode drop] [--catalog parquet]

Resumable: re-running with the same run-id + params skips committed
bucket groups via the manifest (S7).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hocr_de_noising_spark.checkpoint import run_denoise_job  # noqa: E402
from hocr_de_noising_spark.params import DEFAULT_PARAMS, Params, params_hash  # noqa: E402
from hocr_de_noising_spark.session import get_spark  # noqa: E402
from hocr_de_noising_spark.sources import Catalog  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--lexicon", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--buckets", type=int, default=DEFAULT_PARAMS.n_buckets)
    ap.add_argument("--salt", type=int, default=DEFAULT_PARAMS.salt)
    ap.add_argument("--groups", type=int, default=8)
    ap.add_argument("--tau-wconf", type=int, default=DEFAULT_PARAMS.tau_wconf)
    ap.add_argument("--mode", choices=("drop", "rewrite"), default=DEFAULT_PARAMS.mode)
    ap.add_argument("--catalog", choices=("parquet", "iceberg"), default="parquet")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    params = Params(
        tau_wconf=args.tau_wconf,
        mode=args.mode,
        n_buckets=args.buckets,
        salt=args.salt,
    )
    spark = get_spark("hocr-denoise-job", cores=args.cores)
    catalog = Catalog(args.catalog)
    docs = catalog.read_docs(spark, args.input)
    lexicon = catalog.read(spark, args.lexicon)
    run_id = args.run_id or f"run-{params_hash(params)}"

    summary = run_denoise_job(
        spark,
        docs,
        lexicon,
        args.output,
        args.manifest,
        params=params,
        run_id=run_id,
        n_groups=args.groups,
        input_lineage=catalog.lineage(spark, args.input),
    )
    print(
        f"run_id={run_id} params_hash={params_hash(params)} "
        f"groups_run={summary['groups_run']} groups_skipped={summary['groups_skipped']} "
        f"n_docs={summary['n_docs']}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
