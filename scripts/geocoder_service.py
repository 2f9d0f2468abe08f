#!/usr/bin/env python
"""HTTP geocoder service (S7): the reference's bin/geocoder_service.py
endpoints (/forward /reverse /predict, JSON POST) served by the Spark
engine via stdlib http.server. Usage:

    python scripts/geocoder_service.py [--fixtures DIR] [--host H] [--port P]

Driver-side convenience only — batch workloads use the DataFrame API
(scripts/geocode_cli.py / scripts/submit_geocode_job.py).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from geospark import entry_queries as eq
    from geospark.service import GeocoderService, make_server
    from geospark.session import get_spark

    spark = get_spark("geocoder-service", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    st = eq.geo_state(spark)
    svc = GeocoderService(spark, st["tables"], st["wordlist"])

    httpd = make_server(svc, host=args.host, port=args.port)
    print(f"geocoder service listening on http://{args.host}:{httpd.server_address[1]}")
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        httpd.shutdown()


if __name__ == "__main__":
    main()
