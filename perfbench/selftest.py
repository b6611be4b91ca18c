#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py [--no-spark]

1. The synthetic .doc generator: across seeds and sizes, the program's
   extractor returns exactly the planted text; small documents live in the
   mini-stream, large ones need several FAT sectors, a Data stream pads a
   document to its target size, and a stream past the header's 109 FAT
   slots round-trips through DIFAT sectors.
2. The non-Word attachment builders: planted text equals extracted text.
3. A corrupted expectation is caught: check_rows counts it, and (unless
   --no-spark) a full run with --corrupt-expectation exits 1 and reports
   correct=false.
"""

from __future__ import annotations

import json
import struct
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import docgen  # noqa: E402
import mixedgen  # noqa: E402
from b2xtranslator_spark.extractors import extract_payload_text  # noqa: E402
from b2xtranslator_spark.formats.cfb import CompoundFile  # noqa: E402
from b2xtranslator_spark.formats.word.extract import normalize_text  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")


def test_docgen() -> None:
    sizes = [40, 300, 5000, 40000, 150000]
    for seed in range(12):
        rng = np.random.default_rng(seed)
        size = sizes[seed % len(sizes)]
        pad_to = 80000 if seed % 3 == 1 else 0
        payload, expected = docgen.make_doc(docgen.plan_text(rng, size, 0.4), rng, pad_to)
        if pad_to and size < 40000:
            check(abs(len(payload) - pad_to) < 4096 and CompoundFile(payload).has_stream("Data"),
                  f"seed {seed}: padded to {len(payload)} bytes, asked for {pad_to}")
        res = extract_payload_text(payload)
        check(res.status == "ok" and res.kind == "doc", f"seed {seed}: {res.status} {res.error}")
        check(normalize_text(res.text) == normalize_text(expected),
              f"seed {seed}: extracted text differs from the planted text")
        n_fat, first_minifat = struct.unpack_from("<I", payload, 0x2C)[0], \
            struct.unpack_from("<I", payload, 0x3C)[0]
        if size <= 300:
            check(first_minifat != 0xFFFFFFFE, f"seed {seed}: no mini-stream")
            check(len(CompoundFile(payload).get_stream("WordDocument")) < 4096,
                  f"seed {seed}: small WordDocument not in the mini-stream")
        if size >= 150000:
            check(n_fat > 1, f"seed {seed}: expected several FAT sectors, got {n_fat}")
    blob = bytes(range(256)) * (8 << 12)  # 8 MiB: 130 FAT sectors, 1 DIFAT sector
    cf = CompoundFile(docgen.write_cfb([("Big", blob), ("small", b"x" * 100)]))
    check(cf.get_stream("Big") == blob and cf.get_stream("small") == b"x" * 100,
          "DIFAT round trip")
    print("ok docgen: 12 seeds, mini-stream, multi-FAT, DIFAT and Data-stream layouts")


def test_mixedgen() -> None:
    for name, build in mixedgen.BUILDERS.items():
        for seed in range(6):
            rng = np.random.default_rng(seed)
            payload, expected = build(rng, [120, 2500][seed % 2])
            res = extract_payload_text(payload)
            check(res.status == "ok", f"{name} seed {seed}: {res.status} {res.error}")
            check(normalize_text(res.text) == normalize_text(expected),
                  f"{name} seed {seed}: extracted text differs from the planted text")
    print(f"ok mixedgen: {len(mixedgen.BUILDERS)} formats x 6 seeds")


def test_check_rows() -> None:
    from run import check_rows

    expected = pd.DataFrame({"conv_id": ["a", "a", "b"], "turn_idx": [0, 1, 0],
                             "status": ["ok", "skipped", "ok"],
                             "text": ["x  y", "chat", "z"]})
    got = expected.copy()
    got["text"] = ["x y", "chat", "z"]
    check(check_rows(got, expected) == (3, 0), "identical outputs must pass")
    check(check_rows(got, expected, corrupt=1) == (3, 1), "a corrupted expectation must fail")
    check(check_rows(got.iloc[:2], expected) == (3, 1), "a missing row must fail")
    check(check_rows(pd.concat([got, got.iloc[:1]]), expected)[1] == 1,
          "a duplicated row must fail")
    print("ok check_rows: corruption, missing and duplicated rows are caught")


def test_corrupted_run() -> None:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "doc_cold", "--seed", "3",
         "--seconds", "1", "--trace", "0", "--corrupt-expectation", "3"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    result = json.loads(last)
    check(proc.returncode == 1, f"corrupted run exited {proc.returncode}, expected 1")
    check(result.get("correct") is False and result.get("failed") == 3,
          f"corrupted run reported {last}")
    print("ok corrupted expectation: the run reports correct=false, failed=3, exit 1")


if __name__ == "__main__":
    test_docgen()
    test_mixedgen()
    test_check_rows()
    if "--no-spark" not in sys.argv:
        test_corrupted_run()
