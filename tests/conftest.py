import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from b2xtranslator_spark.plans.session import build_session

    spark = build_session(app_name="b2x-tests")
    yield spark
    spark.stop()


# One decode in a fresh interpreter. Its memory is read from
# /proc/self/status: VmHWM is this process image's peak RSS, where
# ru_maxrss also carries the spawning process's peak across exec, and
# growth is counted from VmRSS before the call, not from the import peak.
_DECODE_ONE = r"""
import json, sys, time
from b2xtranslator_spark import budget
from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats.imaging import decode_image

def kb(field):
    with open("/proc/self/status") as f:
        return next(int(l.split()[1]) for l in f if l.startswith(field + ":"))

budget.MAX_PAYLOAD_BYTES = 16 << 20
data = open(sys.argv[1], "rb").read()
rss0 = kb("VmRSS")
t0 = time.perf_counter()
try:
    if sys.argv[2] == "image":
        decode_image(data)
        status = "ok"
    else:
        status = extract_payload_text(data).status
except Exception as exc:
    status = type(exc).__name__
print(json.dumps({"status": status, "s": time.perf_counter() - t0,
                  "rss_mb": (kb("VmHWM") - rss0) / 1024}))
"""


@pytest.fixture
def decode_bomb(tmp_path):
    """Decode one payload in a subprocess whose decode budget,
    ``budget.MAX_PAYLOAD_BYTES``, is 16 MB. Returns {status, s, rss_mb}:
    the row status (or, with ``image=True``, the class name of what
    ``decode_image`` raised), the decode's wall seconds and its peak RSS
    growth in MB."""

    def run(payload: bytes, image: bool = False) -> dict:
        path = tmp_path / "payload.bin"
        path.write_bytes(payload)
        out = subprocess.run(
            [sys.executable, "-c", _DECODE_ONE, str(path), "image" if image else "doc"],
            cwd=REPO, capture_output=True, text=True, timeout=120, check=True,
        )
        return json.loads(out.stdout.splitlines()[-1])

    return run
