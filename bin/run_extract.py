#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline (BASELINE.json
north_rule: "run via spark-submit --py-files").

Cluster usage:
    cd repo && zip -r /tmp/ocrflow.zip src/ocrflow
    spark-submit --py-files /tmp/ocrflow.zip bin/run_extract.py \
        --input /data/transcripts --out /data/extracted --partitions 4096

Local usage (also serves as the synthetic-input demo):
    PYTHONPATH=src python bin/run_extract.py --turns 5000 --out /tmp/ocrflow_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "src"))


def main() -> None:
    from ocrflow.pipeline import DEFAULT_SALT_BUCKETS

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet dir (omit to synthesize)")
    ap.add_argument("--turns", type=int, default=5000,
                    help="synthetic turns when --input omitted")
    ap.add_argument("--out", required=True, help="output icelite table dir")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--salt-buckets", type=int, default=DEFAULT_SALT_BUCKETS,
                    help="salt 8 measured 50s straggler cells on monster convs")
    ap.add_argument("--max-files", type=int, default=None,
                    help="cap pending input files per commit (resume granularity)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ocrflow.session import build_session
    from ocrflow.runner import run_extract

    spark = build_session(master=args.master, app="ocrflow-extract")
    spark.sparkContext.setLogLevel("WARN")

    input_path = args.input
    if input_path is None:
        from ocrflow.synth import synth_dataframe
        input_path = os.path.join(args.out, "_synth_input")
        if not os.path.exists(input_path):
            synth_dataframe(spark, args.turns, seed=42,
                            partitions=8).write.parquet(input_path)

    summary = run_extract(spark, input_path, args.out, run_id=args.run_id,
                          partitions=args.partitions,
                          salt_buckets=args.salt_buckets,
                          max_files=args.max_files)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
