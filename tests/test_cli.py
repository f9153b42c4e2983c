"""Operational CLI (etl_spark/__main__.py), driven in-process through
main(argv) — the same arg strings a user types."""

import json
import os

import pytest

from etl_spark.__main__ import main
from etl_spark.lake.table import LakeTable


def _run(capsys, *argv) -> str:
    rc = main(list(argv))
    out = capsys.readouterr().out
    assert rc == 0, out
    return out


def _last_json(out: str):
    lines = [ln for ln in out.strip().splitlines() if ln.startswith(("{", "["))]
    return json.loads(lines[-1])


def test_cli_end_to_end(spark, tmpdir_path, capsys):
    feed = os.path.join(tmpdir_path, "feed")
    lake = os.path.join(tmpdir_path, "lake")

    out = _run(capsys, "gen", "--out", feed, "--events", "4000",
               "--convs", "60", "--segments", "2")
    assert _last_json(out)["events"] == 4000

    out = _run(capsys, "init", "--table", lake)
    assert _last_json(out)["created"] is True

    out = _run(capsys, "replay", "--table", lake, "--feed", feed)
    stats = _last_json(out)
    assert len(stats) == 2 and all(s["failed"] == 0 for s in stats)
    applied = sum(s["inserted"] + s["updated"] for s in stats)
    assert applied > 0

    # rollback to the first batch's snapshot, then replay converges back
    out = _run(capsys, "rollback", "--table", lake, "--to-version", "1")
    assert _last_json(out)["rolled_back_to"] == 1
    out = _run(capsys, "replay", "--table", lake, "--feed", feed)
    stats = _last_json(out)
    assert [s.get("skipped_idempotent", False) for s in stats] == [True, False]

    out = _run(capsys, "metrics", "--table", lake)
    assert "events_in" in out

    # lookup: bucket and turns of one conversation, planned and read from
    # one snapshot
    t = LakeTable(lake)
    cid = t.read(spark).orderBy("conv_id").first()["conv_id"]
    got = _last_json(_run(capsys, "lookup", "--table", lake, "--conv", cid))
    assert got["conv_id"] == cid
    assert got["bucket"] == t.bucket_of(spark, cid)
    want = t.point_read(spark, cid).orderBy("turn_idx").collect()
    assert want
    assert got["turns"] == [
        {"turn_idx": r["turn_idx"], "role": r["role"], "text": r["text"]}
        for r in want
    ]


def test_cli_query_and_errors(spark, capsys):
    out = _run(capsys, "query", "--list")
    names = out.strip().splitlines()
    assert "q1_pricing_summary" in names and len(names) >= 100

    out = _run(capsys, "query", "q1_pricing_summary",
               "--sf", "/root/testdata/sf0.001", "--limit", "5")
    assert _last_json(out)["rows"] >= 1

    assert main(["query", "definitely_not_a_query"]) == 2
    capsys.readouterr()

    # unknown table path → exit 2, not a traceback
    assert main(["show", "--table", "/tmp/definitely/no/table"]) == 2
    capsys.readouterr()


def test_cli_rollback_validates(spark, tmpdir_path, capsys):
    lake = os.path.join(tmpdir_path, "lake")
    _run(capsys, "init", "--table", lake)
    with pytest.raises(ValueError):
        main(["rollback", "--table", lake, "--to-version", "42"])
    capsys.readouterr()
