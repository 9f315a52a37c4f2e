"""CLI entry point: ``python -m qcache_spark`` — the front door the
reference exposes as the ``qcache`` console script
(qcache/__init__.py:1-50, docopt usage block). Flag surface is kept
1:1 (port / size / age / statistics-buffer-size / cert-file / ca-file
/ basic-auth / debug), realized with argparse instead of docopt, plus
``--key-file`` because this server accepts a split key/cert pair and
``--cpus`` for the local Spark session.
"""
from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="qcache_spark",
        description="QCache-compatible analytics server on PySpark",
    )
    p.add_argument("-p", "--port", type=int, default=8888,
                   help="Port [default: 8888]")
    p.add_argument("--host", default="0.0.0.0",
                   help="Bind address [default: 0.0.0.0]")
    p.add_argument("-s", "--size", type=int, default=1_000_000_000,
                   help="Max cache size, bytes [default: 1000000000]")
    p.add_argument("-a", "--age", type=int, default=0,
                   help="Max age of cached item, seconds. 0 = never expire. [default: 0]")
    p.add_argument("-b", "--statistics-buffer-size", type=int, default=1000,
                   help="Entries in the statistics ring buffer [default: 1000]")
    p.add_argument("-c", "--cert-file", default=None,
                   help="PEM file with certificate (and key, unless --key-file) for TLS")
    p.add_argument("--key-file", default=None,
                   help="Separate PEM private-key file (optional; reference bundles key+cert)")
    p.add_argument("--ca-file", default=None,
                   help="CA file; if provided, client certificates are verified against it")
    p.add_argument("-ba", "--basic-auth", default=None, metavar="USER:PASSWORD",
                   help="Enable basic auth; requires TLS, as in the reference")
    p.add_argument("-d", "--debug", action="store_true", help="Verbose logging")
    p.add_argument("--cpus", type=int, default=None,
                   help="local[N] Spark parallelism (default: all cores)")
    p.add_argument("--max-result-rows", type=int, default=0,
                   help="Refuse (HTTP 413) query results larger than this "
                        "many rows instead of materializing them on the "
                        "driver. 0 = unlimited, the reference's full-table "
                        "contract [default: 0]")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.basic_auth and not args.cert_file:
        # reference run() refuses this combination (qcache/app.py:338-341)
        print("TLS must be enabled to use basic auth!", file=sys.stderr)
        return 2

    from .server import make_server, serve_forever_in_thread
    from .session import get_spark

    def boot():
        spark = get_spark(cpus=args.cpus) if args.cpus else get_spark()
        if not args.debug:
            spark.sparkContext.setLogLevel("ERROR")
        return spark

    # the session boots on a background thread: the port is bound and
    # served at once, and only requests that use Spark wait for it
    server = make_server(
        boot,
        host=args.host,
        port=args.port,
        max_cache_size=args.size,
        max_age=args.age,
        statistics_buffer_size=args.statistics_buffer_size,
        basic_auth=args.basic_auth,
        certfile=args.cert_file,
        keyfile=args.key_file,
        cafile=args.ca_file,
        max_result_rows=args.max_result_rows,
    )
    port = server.server_address[1]
    # the reference prints its effective config at startup (app.py:343-347);
    # tests also parse the bound port from this line (port=0 → ephemeral)
    print(
        f"Starting on port {port}, max cache size {args.size} bytes, "
        f"max age {args.age} seconds, "
        f"statistics buffer size {args.statistics_buffer_size}, "
        f"tls={'on' if args.cert_file else 'off'}, "
        f"client_cert_verification={'on' if args.ca_file else 'off'}",
        flush=True,
    )
    thread = serve_forever_in_thread(server)
    try:
        error = server.session.exception()  # waits for the boot
        if error is None:
            thread.join()
    except KeyboardInterrupt:
        error = None
    if error is not None:
        # a server whose Spark requests can only fail must not stay up
        print(f"Spark session failed to start: {type(error).__name__}: {error}",
              file=sys.stderr, flush=True)
    server.shutdown()
    server.server_close()
    return 1 if error is not None else 0


if __name__ == "__main__":
    raise SystemExit(main())
