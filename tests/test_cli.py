"""The daily-job CLI (python -m google_analytics_to_s3_spark) end to
end: two consecutive days through the real entrypoint — marts land
Hive-partitioned, sessions accumulate into history, day filtering
holds, and a second-day visitor carries first-day touchpoints."""

import ast
import subprocess
import sys

import pytest

from google_analytics_to_s3_spark.testing.fixtures import (
    enriched_hits_day,
    write_jsonl,
)

DAY_MS = 86400000
# the fixture day's hits fall on this local date (Europe/Berlin)
DAY1 = "2019-08-08"
DAY2 = "2019-08-09"


def _run(inp, out, hist, date):
    res = subprocess.run(
        [sys.executable, "-m", "google_analytics_to_s3_spark",
         "--input", inp, "--output", out, "--history", hist,
         "--date", date, "--master", "local[4]"],
        capture_output=True, text=True, cwd="/root/repo", timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return res.stdout


def _write_days(tmp_path) -> tuple[str, str]:
    """The fixture day, and a day-2 follow-up visit by v1."""
    day1 = enriched_hits_day()
    day2 = [
        dict(
            h,
            message_id=h["message_id"] + "d2",
            received_at_apig=str(int(h["received_at_apig"]) + DAY_MS),
        )
        for h in day1
        if h["body_cid"] == "v1"
    ]
    p1, p2 = str(tmp_path / "d1.jsonl"), str(tmp_path / "d2.jsonl")
    write_jsonl(day1, p1)
    write_jsonl(day2, p2)
    return p1, p2


def _mart(spark, out, name, date):
    y, m, d = date.split("-")
    return spark.read.parquet(f"{out}/type={name}/year={y}/month={m}/day={d}")


def test_cli_two_day_run(spark, tmp_path):
    p1, p2 = _write_days(tmp_path)
    out = str(tmp_path / "marts")
    hist = str(tmp_path / "hist")

    _run(p1, out, hist, DAY1)
    _run(p2, out, hist, DAY2)

    s2 = _mart(spark, out, "sessions", DAY2)
    rows = s2.filter("fullVisitorId = 'v1'").collect()
    assert rows, "day-2 session for v1 missing"
    # day-2 touchpoints include day 1's newsletter source via history
    assert any("newsletter" in (r.touchpoints or []) for r in rows)
    # day filter: nothing from day 1 leaks into the day-2 partition
    assert s2.filter(f"to_date(timestamp) <> '{DAY2}'").count() == 0
    # history accumulated both days
    h = spark.read.parquet(hist)
    assert h.filter(f"to_date(timestamp) = '{DAY1}'").count() > 0
    assert h.filter(f"to_date(timestamp) = '{DAY2}'").count() > 0


class TestDailyJobInProcess:
    """The CLI's one code path, called in-process on the test session."""

    def _main(self, capsys, inp, out, hist, date) -> dict:
        from google_analytics_to_s3_spark.__main__ import main

        main(["--input", inp, "--output", out, "--history", hist,
              "--date", date])
        return ast.literal_eval(capsys.readouterr().out.splitlines()[-1])

    def test_day2_sessions_once_and_rows_observed(self, spark, tmp_path,
                                                  capsys):
        p1, p2 = _write_days(tmp_path)
        out, hist = str(tmp_path / "marts"), str(tmp_path / "hist")
        self._main(capsys, p1, out, hist, DAY1)
        printed = self._main(capsys, p2, out, hist, DAY2)
        assert printed["date"] == DAY2

        # the history append refreshes the cached sessions plan, which
        # reads the history path: the mart must not see today twice
        key = ["fullVisitorId", "visitId"]
        s2 = _mart(spark, out, "sessions", DAY2)
        mart_keys = sorted(tuple(r) for r in s2.select(*key).collect())
        assert mart_keys and len(mart_keys) == len(set(mart_keys))
        h2 = spark.read.parquet(hist).filter(f"to_date(timestamp) = '{DAY2}'")
        assert sorted(tuple(r) for r in h2.select(*key).collect()) == mart_keys

        # the printed counts are the rows that landed in each mart
        written = {
            name: _mart(spark, out, name, DAY2).count()
            for name in printed["rows"]
        }
        assert printed["rows"] == written
        assert len(written) == 6

    def test_no_persisted_rdds_left(self, spark, tmp_path, capsys):
        def persisted() -> set:
            return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

        spark.catalog.clearCache()
        before = persisted()
        p1, _ = _write_days(tmp_path)
        hist = str(tmp_path / "hist")
        self._main(capsys, p1, str(tmp_path / "marts"), hist, DAY1)
        assert persisted() == before

        # a mart write that fails releases the caches too
        blocker = tmp_path / "not_a_dir"
        blocker.write_text("")
        with pytest.raises(Exception):
            self._main(capsys, p1, str(blocker), hist, DAY1)
        assert persisted() == before


class TestQuerySubcommand:
    def test_list_names(self, capsys):
        from google_analytics_to_s3_spark.__main__ import main

        main(["query", "list"])
        out = capsys.readouterr().out.splitlines()
        assert "pricing_summary" in out and "rfm_segments" in out
        assert len(out) > 150

    def test_unknown_query_exits(self):
        import pytest as _pytest

        from google_analytics_to_s3_spark.__main__ import main

        with _pytest.raises(SystemExit, match="unknown query"):
            main(["query", "nope_nope"])

    def test_run_and_write(self, spark, tmp_path, capsys):
        # `spark` fixture keeps the session alive; get_spark() inside
        # the CLI returns the same active session
        from google_analytics_to_s3_spark.__main__ import main

        out = tmp_path / "mart"
        main(["query", "hit_type_mapping",
              "--sf-dir", "/root/testdata/sf0.001",
              "--out", str(out)])
        assert "rows" in capsys.readouterr().out
        assert spark.read.parquet(str(out)).count() > 0

    def test_show_limit(self, spark, capsys):
        from google_analytics_to_s3_spark.__main__ import main

        main(["query", "pricing_summary",
              "--sf-dir", "/root/testdata/sf0.001", "--limit", "3"])
        assert "l_returnflag" in capsys.readouterr().out
