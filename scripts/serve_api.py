"""Run the live JSON API daemon (operators/api_server.py) for manual use:

    python scripts/serve_api.py [--port 8080] [--sf-dir /root/testdata/sf0.01] [--with-cdc]

Serves the seven reference routes (reference src/api/routes.ts:11-17) plus
the CDC tail endpoint and the two push bridges, SSE
(GET /api/cdc/:address/stream?since=&timeout=) and WebSocket
(GET /api/cdc/:address/ws?since=&timeout=). Ctrl-C to stop."""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument(
        "--with-cdc",
        action="store_true",
        help="run the CDC fold first and enable /api/cdc/:address",
    )
    args = ap.parse_args()

    from hive_server_spark.operators.api_server import HiveApiServer
    from hive_server_spark.session import get_spark

    spark = get_spark("hive-api-server")
    spark.sparkContext.setLogLevel("ERROR")

    cdc_dir = None
    if args.with_cdc:
        from hive_server_spark.plans.streaming_pack import fold_seq_slices

        _store, cdc_dir = fold_seq_slices(spark, args.sf_dir)

    srv = HiveApiServer(spark, args.sf_dir, port=args.port, cdc_dir=cdc_dir).start()
    print(f"serving on http://127.0.0.1:{srv.port}/api/pools  (Ctrl-C to stop)")
    try:
        srv._thread.join()
    except KeyboardInterrupt:
        srv.stop()


if __name__ == "__main__":
    main()
