"""CLI front-ends (doc2text / any2text) mirror the reference shells."""

from __future__ import annotations

import os

import pytest

from b2xtranslator_spark.cli import main

SAMPLE = "/root/reference/samples/47304.doc"


@pytest.mark.skipif(not os.path.exists(SAMPLE), reason="corpus unavailable")
def test_doc2text_writes_file(tmp_path, capsys):
    out = tmp_path / "out.txt"
    assert main(["doc2text", SAMPLE, str(out)]) == 0
    assert "test" in out.read_text().lower()


def test_any2text_stdout(tmp_path, capsys):
    from b2xtranslator_spark.sources.binfixtures import build_xls_fixture

    xls, expected = build_xls_fixture()
    path = tmp_path / "fixture.xls"
    path.write_bytes(xls)
    assert main(["any2text", str(path)]) == 0
    assert capsys.readouterr().out == expected + "\n"


def test_any2text_bad_file(tmp_path, capsys):
    bad = tmp_path / "bad.doc"
    bad.write_bytes(b"not a compound file" + b"\x00" * 600)
    assert main(["any2text", str(bad)]) == 1
    assert "Magic Number" in capsys.readouterr().err
