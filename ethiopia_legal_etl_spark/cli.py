"""spark-submit-able job entry points mirroring the reference's
process-level surface (SURVEY.md §3):

  python -m ethiopia_legal_etl_spark.cli ingest \\
      --links <pdf_links.json> --out <docs_dir> --rejects <rej_dir> \\
      [--done <existing_docs_dir>] [--partitions 64]

re-expresses entry points 1-2 (`python scrape_pdf_links.py` +
`python fetch_legal_docs.py` / `python "import requests.py"`): read the
links hand-off file, skip already-ingested docs, fetch, extract, build
document records, write JSONL docs + rejects, and print the run's
outcome counts as one JSON line:

  {"docs": 3, "fetch/content-type": 1, "extract/empty": 1}

The network/PDF stages use the production fetcher/extractor
(ingest.default_fetcher/default_extractor); everything else is the same
offline-tested DataFrame graph.
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_ingest(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.functions.text import base_name_from_url
    from ethiopia_legal_etl_spark.operators.ingest import (
        ingest_pipeline,
        write_documents_json,
    )
    from ethiopia_legal_etl_spark.session import get_spark
    from ethiopia_legal_etl_spark.sources.tables import read_pdf_links

    spark = get_spark(app_name="ethiopia-legal-etl-ingest")
    links = read_pdf_links(spark, args.links)

    if args.done:
        # A-6: sink listing → base names (keys on the JSON output name,
        # §2.C-6)
        done = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.json")
            .load(args.done)
            .select(base_name_from_url(F.col("path")).alias("base_name"))
        )
    else:
        done = spark.createDataFrame([], "base_name: string")

    result = ingest_pipeline(links, done, fetch_partitions=args.partitions)
    docs, rejects = result
    write_documents_json(docs, args.out)
    rejects.write.mode("overwrite").json(args.rejects)
    print(f"ingest complete: docs -> {args.out}, rejects -> {args.rejects}")
    print(json.dumps(result.counts))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ethiopia_legal_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="links file → documents JSONL")
    ing.add_argument("--links", required=True, help="pdf_links.json (array or JSONL)")
    ing.add_argument("--out", required=True, help="output documents dir (JSONL)")
    ing.add_argument("--rejects", required=True, help="rejects dir (JSONL)")
    ing.add_argument("--done", default=None, help="existing docs dir for incremental skip")
    ing.add_argument("--partitions", type=int, default=None, help="fetch parallelism")
    ing.set_defaults(fn=cmd_ingest)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
