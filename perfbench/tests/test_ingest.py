"""The generated API and the counting file transport (no Spark)."""

import json
import os

from perfbench import ingest


def test_api_follows_the_seed(tmp_path):
    a = ingest.generate_api(str(tmp_path / "a"), seed=3, n_pages=4, per_page=50)
    b = ingest.generate_api(str(tmp_path / "b"), seed=3, n_pages=4, per_page=50)
    c = ingest.generate_api(str(tmp_path / "c"), seed=4, n_pages=4, per_page=50)
    assert (a.json_bytes, a.match_rows_per_dt, a.dataset_rows) == (
        b.json_bytes, b.match_rows_per_dt, b.dataset_rows)
    assert a.match_rows_per_dt != c.match_rows_per_dt
    for p in range(4):
        with open(tmp_path / "a" / "publicMatches" / f"page{p}.json") as f:
            pa_ = f.read()
        with open(tmp_path / "b" / "publicMatches" / f"page{p}.json") as f:
            assert f.read() == pa_
    assert sum(a.match_rows_per_dt.values()) == 200
    assert len(a.dataset_rows) == 12


def test_transport_serves_pages_and_counts_calls(tmp_path):
    api = ingest.generate_api(str(tmp_path / "api"), seed=1, n_pages=2, per_page=10)
    log = str(tmp_path / "calls.log")
    t = ingest.FileTransport(api.root, log)
    status, body = t("/publicMatches", {"page": "1"})
    assert status == 200 and len(json.loads(body)) == 10
    status, body = t("/constants/clusters", {})
    assert status == 200 and len(json.loads(body)) == api.dataset_rows["clusters"]
    status, _ = t("/publicMatches", {"page": "7"})
    assert status == 404
    calls, secs = ingest.read_call_log(log)
    assert calls == 3 and secs >= 0
    assert ingest.read_call_log(str(tmp_path / "none.log")) == (0, 0.0)


def test_every_reference_dataset_has_an_endpoint(tmp_path):
    api = ingest.generate_api(str(tmp_path / "api"), seed=2, n_pages=3, per_page=5)
    specs = ingest.datasets(api)
    assert [s.name for s in specs][0] == "matches"
    assert len(specs) == 13
    assert {s.name for s in specs[1:]} == set(api.dataset_rows)
    t = ingest.FileTransport(api.root, str(tmp_path / "log"))
    for s in specs:
        for r in s.requests:
            assert t(r.endpoint, dict(r.params))[0] == 200, (s.name, r)
    assert os.path.exists(tmp_path / "log")
