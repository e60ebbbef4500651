"""HTTP CSV source (S1 retry/empty-guard contracts) against a real
local HTTP server, and the validation CLI's exit-code contract (R4)."""

from __future__ import annotations

import http.server
import threading

import pytest

from etl_gcp_spark.sources.readers import read_http_csv

CSV_BODY = "a,b\n1,x\n2,y\n"


class _Handler(http.server.BaseHTTPRequestHandler):
    # class-level behavior knobs, reset per test
    fail_times = 0
    status_on_fail = 503
    body = CSV_BODY
    calls = 0

    def do_GET(self):  # noqa: N802
        cls = type(self)
        cls.calls += 1
        if cls.calls <= cls.fail_times:
            self.send_response(cls.status_on_fail)
            self.end_headers()
            return
        payload = cls.body.encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/csv")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def http_url():
    _Handler.calls = 0
    _Handler.fail_times = 0
    _Handler.body = CSV_BODY
    srv = http.server.HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/data.csv"
    srv.shutdown()


def test_http_csv_success(spark, http_url):
    df = read_http_csv(spark, http_url)
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_http_csv_retries_on_503(spark, http_url):
    _Handler.fail_times = 2  # two 503s, then success
    df = read_http_csv(spark, http_url, backoff=0.01)
    assert df.count() == 2
    assert _Handler.calls == 3


def test_http_csv_no_retry_on_404(spark, http_url):
    _Handler.fail_times = 10
    _Handler.status_on_fail = 404
    with pytest.raises(Exception):
        read_http_csv(spark, http_url, backoff=0.01)
    assert _Handler.calls == 1  # 404 is not retryable


def test_http_csv_rejects_empty(spark, http_url):
    _Handler.body = "a,b\n"  # header only
    with pytest.raises(ValueError, match="no data rows"):
        read_http_csv(spark, http_url)


def test_validate_cli_exit_codes(sf_dir):
    from etl_gcp_spark.validate_cli import main

    assert main([sf_dir, "--table", "nation", "--min-rows", "1"]) == 0
    assert main([sf_dir, "--table", "nation", "--min-rows", "1000000"]) == 1
    assert (
        main([sf_dir, "--table", "events", "--distinct", "user_id:2"]) == 0
    )


def test_validate_cli_leaves_caller_conf(spark, sf_dir):
    """Run on the caller's running session, the CLI must not write its
    own shuffle-partition count (32) onto it."""
    from etl_gcp_spark.validate_cli import main

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        assert main([sf_dir, "--table", "nation", "--min-rows", "1"]) == 0
        assert spark.conf.get(key) == "5"
    finally:
        spark.conf.set(key, prev)
