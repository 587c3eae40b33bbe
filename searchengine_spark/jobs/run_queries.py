"""spark-submit entry point: run queries against a built index.

    spark-submit --py-files sespark.zip searchengine_spark/jobs/run_queries.py \\
        --index <index_dir> --query "inverted index" [--mode bm25|compat|wand] [--k 10]

``--mode wand`` serves from the compressed segments: plain queries through
the block-max top-k, quoted queries through the segment phrase top-k. It
prints ``rank, doc_id, url, score_micros`` per hit.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("--mode", choices=["bm25", "compat", "wand"], default="wand")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from searchengine_spark.session import get_spark
    from searchengine_spark.plans.build_index import load_index
    from searchengine_spark.operators.query import is_phrase_query, search_bm25, search_compat
    from searchengine_spark.operators.segments import blockmax_topk_micros, phrase_topk_micros
    from searchengine_spark.functions.textproc import query_tokenize

    # serving session: AQE off — adaptive re-planning adds ~0.5 s of driver
    # round-trips per small query and buys nothing on k-row plans
    spark = get_spark(
        master=args.master,
        app_name="run_queries",
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    idx = load_index(spark, args.index)

    if args.mode in ("bm25", "compat"):
        if args.mode == "bm25":
            df = search_bm25(spark, idx, args.query, args.k)
        else:
            df = search_compat(
                spark, idx["postings"], idx["lexicon"], idx["documents"], args.query, args.k
            )
        rows = [r.asDict() for r in df.collect()]
    else:
        is_phrase = is_phrase_query(args.query)
        terms = query_tokenize(args.query[1:-1] if is_phrase else args.query)
        topk = phrase_topk_micros if is_phrase and len(terms) >= 2 else blockmax_topk_micros
        hits = topk(
            spark, idx["segments"], idx["lexicon"], terms, idx["avgdl"], args.k
        ).collect()
        # url lookup limited to the <= k winners
        ids = [h["doc_id"] for h in hits]
        urls = dict(
            idx["documents"].filter(F.col("doc_id").isin(ids)).select("doc_id", "url").collect()
        ) if ids else {}
        rows = [
            {"rank": i, "doc_id": h["doc_id"], "url": urls.get(h["doc_id"]),
             "score_micros": h["score_micros"]}
            for i, h in enumerate(hits, start=1)
        ]
    for row in rows:
        print(json.dumps(row, default=str))
    return 0


if __name__ == "__main__":
    # bare-script invocation: sys.path[0] is jobs/, not the repo root
    import os as _os
    sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))))
    sys.exit(main())
