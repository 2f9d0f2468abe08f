"""Batch CLI — the reference's bin/address2coordinate.py /
bin/coordinate2address.py / prediction surface (S7) as Spark batch jobs over
the engine's reference world (fixtures by default, any world dir via
--world). Output format mirrors the reference CLIs (address2coordinate.py:60-63,
coordinate2address.py:43-46): one ``- <formatted, comma-joined> -> lat, lon``
line per hit.

Usage:
  python scripts/geocode_cli.py forward "Georgenstr 34, 92224 Amberg" [--country C] [--center LAT LON] [--limit N]
  python scripts/geocode_cli.py reverse 47.90 9.00 [--radius M] [--limit N]
  python scripts/geocode_cli.py predict Dickenr
  python scripts/geocode_cli.py batch forward queries.parquet out.parquet
  python scripts/geocode_cli.py batch reverse queries.parquet out.parquet
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")


def build_state(world: str | None):
    from geospark.session import get_spark
    from geospark import entry_queries as eq

    spark = get_spark("geocode-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if world:
        eq.FIX = world  # point the engine state at another world dir
    return spark, eq.geo_state(spark)


def _print_rows(rows, country=None):
    from geospark import formatter, proj

    for r in rows:
        addr = {k: r[k] for k in ("house", "road", "house_number", "postcode",
                                  "city", "county", "state")}
        line = ", ".join(formatter.format_address(addr, country=country).split("\n")).strip()
        lon, lat = proj.merc_to_lonlat(r["x"], r["y"])
        print(" - {} -> {}, {}".format(line, round(float(lat), 7), round(float(lon), 7)))


def cmd_forward(args):
    from geospark.forward import forward_geocode_unstructured

    spark, st = build_state(args.world)
    q = spark.createDataFrame(
        [(1, args.address, args.country,
          args.center[0] if args.center else None,
          args.center[1] if args.center else None,
          args.radius, args.limit)],
        "query_id long, search_term string, country string, center_lat double, "
        "center_lon double, radius int, limit int")
    rows = forward_geocode_unstructured(spark, st["tables"], q).collect()
    print('Resolved "{}" to'.format(args.address))
    _print_rows(rows, country=args.country)


def cmd_reverse(args):
    from geospark.reverse import reverse_geocode

    spark, st = build_state(args.world)
    q = spark.createDataFrame(
        [(1, args.lat, args.lon, float(args.radius), args.limit)],
        "query_id long, lat double, lon double, radius double, limit int")
    rows = reverse_geocode(spark, st["tables"], q).collect()
    if not rows:
        print("Nothing found for {}, {}".format(args.lat, args.lon))
        return
    print("Resolved {}, {} to".format(args.lat, args.lon))
    _print_rows(rows)


def cmd_predict(args):
    from geospark.predict import predict_text

    spark, st = build_state(args.world)
    q = spark.createDataFrame([(1, args.prefix)], "query_id long, input string")
    rows = predict_text(spark, st["wordlist"], q).collect()
    print('Predictions for "{}":'.format(args.prefix))
    for r in rows:
        print(" - {} (ct={}, dist={})".format(r.word, r.ct, r.dist))


def cmd_batch(args):
    from geospark.forward import forward_geocode
    from geospark.reverse import reverse_geocode

    spark, st = build_state(args.world)
    q = spark.read.parquet(args.input)
    if args.kind == "forward":
        if "search_term" in q.columns:
            from geospark.forward import split_address_cols

            q = split_address_cols(q)
        # lazy plan straight into the sink (no intermediate checkpoint);
        # the CLI owns the candidate-cache cleanup
        persists: list = []
        out = forward_geocode(spark, st["tables"], q, materialize=False,
                              persist_registry=persists)
    else:
        persists = []
        out = reverse_geocode(spark, st["tables"], q)
    out.write.mode("overwrite").parquet(args.output)
    for cached in persists:
        cached.unpersist()
    print("wrote", args.output)


def main():
    p = argparse.ArgumentParser(description="geospark geocoder CLI")
    p.add_argument("--world", help="world/fixture dir (default: committed fixtures)")
    sub = p.add_subparsers(dest="cmd", required=True)

    f = sub.add_parser("forward")
    f.add_argument("address")
    f.add_argument("--country")
    f.add_argument("--center", type=float, nargs=2, metavar=("LAT", "LON"))
    f.add_argument("--radius", type=int, default=20000)
    f.add_argument("--limit", type=int, default=10)
    f.set_defaults(fn=cmd_forward)

    r = sub.add_parser("reverse")
    r.add_argument("lat", type=float)
    r.add_argument("lon", type=float)
    r.add_argument("--radius", type=float, default=150.0)
    r.add_argument("--limit", type=int, default=1)
    r.set_defaults(fn=cmd_reverse)

    pr = sub.add_parser("predict")
    pr.add_argument("prefix")
    pr.set_defaults(fn=cmd_predict)

    b = sub.add_parser("batch")
    b.add_argument("kind", choices=["forward", "reverse"])
    b.add_argument("input")
    b.add_argument("output")
    b.set_defaults(fn=cmd_batch)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
