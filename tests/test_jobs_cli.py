"""jobs.py rejects a malformed or inverted period before it starts
Spark or writes any output."""

from __future__ import annotations

import pytest

import jobs


@pytest.mark.parametrize("period", [
    ["--end", "2021-13"],
    ["--start", "2019"],
    ["--start", "2019-1"],
    ["--start", "2022-01", "--end", "2021-12"],
])
def test_bad_period_exits_2_before_spark(monkeypatch, tmp_path, capsys,
                                         period):
    def no_spark(*a, **k):
        raise AssertionError("get_spark called")

    out = tmp_path / "out"
    monkeypatch.setattr(jobs, "get_spark", no_spark)
    monkeypatch.setattr("sys.argv", [
        "jobs.py", "--pages", str(tmp_path / "pages"), "--out", str(out),
        "--run-id", "r1", *period])
    with pytest.raises(SystemExit) as exc:
        jobs.main()
    assert exc.value.code == 2
    assert period[0] in capsys.readouterr().err
    assert not out.exists()
