#!/usr/bin/env python3
"""Extraction benchmark for b2xtranslator_spark.

    python3 perfbench/run.py --workload doc_cold --seed 1 --seconds 10 --trace 0

Runs one workload from the checkout it lives in: builds the Spark session
the product ships (local[nproc]), generates the workload's inputs from the
seed (cached under perfbench/.work), repeats the workload's job for
--seconds, checks every output row against the generator's expectation
and prints one JSON line. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer metrics. Workloads, parameters and metric
definitions are in perfbench/spec.json. Exit code 0 means the run
completed and every output matched; 1 means an output mismatch (the
result line is still printed); 2 means the run could not be made.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
MIN_REPS = 4


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs) -> float:
    return float(statistics.median(xs))


# -- deployment ------------------------------------------------------------------


def pin_environment(spec: dict) -> int:
    """local[nproc] with the product's defaults; scratch inside the checkout."""
    for key in list(os.environ):
        if key.startswith("B2X_") or key == "SPARK_GRAFT_TASK_CPUS":
            del os.environ[key]
    nproc = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": spec["deployment"]["driver_memory"],
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    sys.dont_write_bytecode = True
    return nproc


def import_program() -> None:
    """The program must come from this checkout, never from elsewhere."""
    init = ROOT / "b2xtranslator_spark" / "__init__.py"
    if not init.is_file():
        fail(f"program package not found at {init.parent}")
    sys.path[:0] = [str(ROOT), str(HERE)]
    import b2xtranslator_spark

    if Path(b2xtranslator_spark.__file__).resolve() != init.resolve():
        fail(f"imported {b2xtranslator_spark.__file__}, expected {init}")


def session_conf() -> dict:
    return {
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def warm_up(spark) -> None:
    """A 16-row extraction: spawns the Python workers and plans the map once."""
    import base64

    import numpy as np
    import pandas as pd

    import docgen
    from b2xtranslator_spark.pipeline import run_extraction
    from corpora import PAYLOAD_PREFIX

    rng = np.random.default_rng(7)
    cells = []
    for i in range(16):
        if i % 2:
            payload, _ = docgen.make_doc(docgen.plan_text(rng, 300, 0.5), rng)
            cells.append(PAYLOAD_PREFIX + base64.b64encode(payload).decode("ascii"))
        else:
            cells.append("warm-up chat turn")
    frame = pd.DataFrame({"conv_id": [f"w{i // 4}" for i in range(16)],
                          "turn_idx": list(range(16)), "text": cells, "tool": [""] * 16})
    run_extraction(spark.createDataFrame(frame)).write.format("noop").mode("overwrite").save()


# -- peak RSS ----------------------------------------------------------------------


class RssSampler:
    """Peak summed RSS of every descendant process (driver JVM, Python daemon
    and workers), sampled from /proc while active."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self._sample())

    def __enter__(self) -> "RssSampler":
        self.peak_bytes = self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._sample())


# -- output checks -------------------------------------------------------------------


def check_rows(got, expected, corrupt: int = 0) -> tuple[int, int]:
    """(attempted, failed) over the expected rows: a row fails when it is
    missing, duplicated, or its status or normalized text differs."""
    from b2xtranslator_spark.formats.word.extract import normalize_text

    expected = expected.copy()
    if corrupt:
        docs = expected.index[expected["status"] == "ok"][:corrupt]
        expected.loc[docs, "text"] = expected.loc[docs, "text"] + " corrupted"
    keys = ["conv_id", "turn_idx"]
    merged = expected.merge(got, on=keys, how="outer", suffixes=("_exp", "_got"),
                            indicator=True)
    failed = len(got) - len(got.drop_duplicates(keys))
    for conv, turn, st_e, st_g, tx_e, tx_g, side in zip(
            merged["conv_id"], merged["turn_idx"], merged["status_exp"],
            merged["status_got"], merged["text_exp"], merged["text_got"], merged["_merge"]):
        if side != "both" or st_e != st_g or normalize_text(tx_e) != normalize_text(tx_g):
            failed += 1
            if failed <= 3:
                print(f"perfbench: mismatch {conv}/{turn} ({side}): expected {st_e} "
                      f"{str(tx_e)[:80]!r}, got {st_g} {str(tx_g)[:80]!r}", file=sys.stderr)
    return len(expected), failed


# -- workloads -------------------------------------------------------------------------


class Workload:
    """Inputs, timed job, output check and per-layer figures of one workload.
    Subclasses set the input frame (self.input, self.expected) in prepare()
    and add their own layers in extraction_layers()."""

    def __init__(self, spark, seed: int, params: dict, corrupt: int) -> None:
        self.spark, self.seed, self.p, self.corrupt = spark, seed, params, corrupt

    def _load(self, corpus: Path) -> None:
        import pandas as pd

        self.input = str(corpus / "input")
        self.expected = pd.read_parquet(corpus / "expected.parquet")
        self.rows = len(self.expected)
        self.docs = int((self.expected["status"] != "skipped").sum())
        self.payload_bytes = int(self.expected["payload_bytes"].sum())

    def layers(self, tracer, nproc: int, job_s: float) -> dict[str, float]:
        from spans import instrument, replay_metrics

        spark = self.spark
        pruned = spark.read.parquet(self.input).select("conv_id", "turn_idx", "text", "tool")
        scans = []
        for _ in range(3):
            t = time.perf_counter()
            with tracer.span("pipeline.scan"):
                pruned.write.format("noop").mode("overwrite").save()
            scans.append(time.perf_counter() - t)
        m = {"pipeline.scan_s": median(scans)}
        m.update(self.extraction_layers(tracer, job_s))
        m["pipeline.map_s"] = m["pipeline.extract_s"] - m["pipeline.scan_s"]
        m["pipeline.splits"] = pruned.rdd.getNumPartitions()
        m["pipeline.slots"] = nproc // int(spark.conf.get("spark.task.cpus"))

        # in-process replay of the map kernel over one seeded input file
        frames, share = self._replay_frames()
        plain = self._replay(frames)
        tracer.trace_id += 1
        first = len(tracer.spans)
        with instrument(tracer):
            traced = self._replay(frames, tracer)
        m.update(replay_metrics(tracer, first))
        doc_turns = sum(int(f["is_doc"].sum()) for f in frames)
        m["pipeline.cache_hit_ratio"] = (1 - m["extractors.calls"] / doc_turns) if doc_turns else 0.0
        m["pipeline.core_util"] = plain / share / (m["pipeline.extract_s"] * nproc)
        m["trace.replay_overhead_s"] = traced - plain
        return m

    def _replay_frames(self):
        """128-row frames of one seeded input file, as the Arrow batches
        arrive, and that file's share of the input weight."""
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from corpora import MARKUP_PREFIX, PAYLOAD_PREFIX

        files = sorted(Path(self.input).glob("*.parquet"))
        weights = []
        for f in files:
            cols = pq.read_table(f, columns=["text", "tool"])
            weights.append(sum(pc.sum(pc.utf8_length(cols[c])).as_py() or 0 for c in ("text", "tool")))
        k = int(np.random.default_rng([self.seed, 909]).integers(len(files)))
        table = pq.read_table(files[k], columns=["conv_id", "turn_idx", "text", "tool"])
        frames = [b.to_pandas() for b in table.to_batches(max_chunksize=128)]
        prefixes = (PAYLOAD_PREFIX, MARKUP_PREFIX)
        for f in frames:
            f["is_doc"] = (f["text"].str.startswith(prefixes, na=False)
                           | f["tool"].str.startswith(prefixes, na=False))
        return frames, weights[k] / sum(weights)

    @staticmethod
    def _replay(frames, tracer=None) -> float:
        import b2xtranslator_spark.pipeline as pl

        pl._DECODE_CACHE = None  # each replay starts with a cold worker cache
        cols = [f.drop(columns="is_doc") for f in frames]
        t = time.perf_counter()
        with tracer.span("pipeline.extract_turns") if tracer else contextlib.nullcontext():
            for _ in pl.extract_turns(iter(cols)):
                pass
        return time.perf_counter() - t


class DocCold(Workload):
    """Unique .doc attachments through run_extraction into a noop sink."""

    def prepare(self) -> None:
        import corpora

        self._load(corpora.build_doc_cold(WORK, self.seed, self.p))

    def _extracted(self):
        from b2xtranslator_spark.pipeline import run_extraction

        return run_extraction(self.spark.read.parquet(self.input))

    def job(self, span) -> None:
        with span("pipeline.run_extraction"):
            self._extracted().write.format("noop").mode("overwrite").save()

    def check(self) -> tuple[int, int]:
        """A noop sink leaves nothing to inspect: one more pass of the same
        extraction collects every row."""
        got = self._extracted().select("conv_id", "turn_idx", "status", "text").toPandas()
        return check_rows(got, self.expected, self.corrupt)

    def extraction_layers(self, tracer, job_s: float) -> dict[str, float]:
        return {"pipeline.extract_s": job_s}


class CheckpointCurate(Workload):
    """Mixed attachments through run_with_checkpoints into a fresh directory,
    then the curation operators over a text corpus, results collected."""

    def prepare(self) -> None:
        import pandas as pd

        import corpora
        import curate

        self._load(corpora.build_checkpoint_mixed(WORK, self.seed, self.p["attachments"]))
        self.curate_dir = curate.build_curate(WORK, self.seed, self.p["curation"])
        self.docs_input = str(self.curate_dir / "input")
        text = pd.read_parquet(self.docs_input)["text"]
        self.rows += len(text)
        self.docs += len(text)
        self.payload_bytes += int(text.str.encode("utf-8").str.len().sum())
        self.out_dirs: list[str] = []
        self.checkpoint_s: list[float] = []  # run_with_checkpoints share of each job

    def job(self, span) -> None:
        t = time.perf_counter()
        self._checkpointed_extraction(span)
        self.checkpoint_s.append(time.perf_counter() - t)
        self._curation(span)

    def _checkpointed_extraction(self, span) -> None:
        from b2xtranslator_spark.pipeline import run_with_checkpoints

        n_groups = self.p["attachments"]["n_groups"]
        run_id = f"r{len(self.out_dirs)}"
        out = WORK / "ckpt" / f"{self.seed}-{os.getpid()}-{run_id}"
        shutil.rmtree(out, ignore_errors=True)
        with span("pipeline.run_with_checkpoints"):
            stats = run_with_checkpoints(self.spark, self.input, str(out), run_id,
                                         n_groups=n_groups)
        # a resumed run would skip groups and fake a speed-up
        if stats.get("groups_skipped") != 0 or stats.get("groups_run") != n_groups:
            fail(f"checkpointed run did not process every group: {stats}")
        self.groups_run = stats["groups_run"]
        if self.out_dirs:  # keep only the newest output for the check
            shutil.rmtree(self.out_dirs[-1], ignore_errors=True)
        self.out_dirs.append(str(out))

    def _curation(self, span) -> None:
        from pyspark.sql import functions as F

        import curate
        from b2xtranslator_spark.operators.dedup import dedup_pipeline
        from b2xtranslator_spark.operators.textstats import chunk_documents, corpus_filter

        docs = self.spark.read.parquet(self.docs_input)
        # the result is collected, as a curation step hands it on
        self.results = {}
        for key, name, build in (
            ("filter", "operators.textstats.corpus_filter", lambda: corpus_filter(docs)),
            ("dedup", "operators.dedup.dedup_pipeline", lambda: dedup_pipeline(docs)),
            ("chunks", "operators.textstats.chunk_documents", lambda: chunk_documents(
                docs, curate.CHUNK_TOKENS, curate.CHUNK_OVERLAP).select(
                "doc_id", "chunk_idx", F.md5("chunk_text").alias("h"), "n_tokens")),
        ):
            with span(name):
                self.results[key] = build().toPandas()

    def check(self) -> tuple[int, int]:
        """Reads back what the last timed repetition wrote and checks the
        curation results it collected."""
        from b2xtranslator_spark.pipeline import read_extracted

        out = read_extracted(self.spark, self.out_dirs[-1], self.p["attachments"]["n_groups"])
        got = out.select("conv_id", "turn_idx", "status", "text").toPandas()
        attempted, failed = check_rows(got, self.expected, self.corrupt)
        shutil.rmtree(self.out_dirs[-1], ignore_errors=True)
        more, bad = self._check_curation()
        return attempted + more, failed + bad

    def _check_curation(self) -> tuple[int, int]:
        import pandas as pd

        import curate

        docs = pd.read_parquet(self.docs_input)
        planted = pd.read_parquet(self.curate_dir / "expected_filter.parquet")
        if self.corrupt:
            planted.loc[planted.index[: self.corrupt], "reason"] = "corrupted"
        filt = self.results["filter"].merge(planted, on="doc_id", how="outer",
                                            suffixes=("", "_exp"))
        bad = filt[(filt["reason"] != filt["reason_exp"])
                   | (filt["keep"] != (filt["reason_exp"] == "ok"))]
        failed = len(bad)
        attempted = len(planted)

        clusters, _, _ = curate.expected_dedup(docs)
        for doc_id, cluster_id, keep in self.results["dedup"].itertuples(index=False):
            exp = clusters.pop(int(doc_id), None)
            failed += exp is None or int(cluster_id) != exp or bool(keep) != (exp == doc_id)
        failed += len(clusters)
        attempted += len(docs)

        chunks = curate.expected_chunks(docs)
        got = self.results["chunks"]
        for doc_id, idx, h, n in got.itertuples(index=False):
            exp = chunks.pop((int(doc_id), int(idx)), None)
            failed += exp is None or exp != (h, int(n))
        attempted += len(got) + len(chunks)
        failed += len(chunks)
        if failed:
            print(f"perfbench: {failed} curation mismatches; corpus_filter rows: "
                  f"{bad.head(3).to_dict('records')}", file=sys.stderr)
        return attempted, int(failed)

    def extraction_layers(self, tracer, job_s: float) -> dict[str, float]:
        from b2xtranslator_spark.pipeline import run_extraction

        extracts = []
        for _ in range(2):
            t = time.perf_counter()
            with tracer.span("pipeline.run_extraction"):
                run_extraction(self.spark.read.parquet(self.input)).write.format(
                    "noop").mode("overwrite").save()
            extracts.append(time.perf_counter() - t)
        m = {"pipeline.extract_s": median(extracts)}
        timed = self.checkpoint_s[self.p["warm_reps"]:]
        m["pipeline.write_s"] = median(timed) - m["pipeline.extract_s"]
        m["pipeline.groups_run"] = self.groups_run
        m.update(self._operator_layers(tracer))
        return m

    def _operator_layers(self, tracer) -> dict[str, float]:
        from b2xtranslator_spark.operators.dedup import (
            jaccard_verify_pairs,
            minhash_lsh_candidates,
        )

        m = {}
        for name in ("operators.textstats.corpus_filter", "operators.textstats.chunk_documents",
                     "operators.dedup.dedup_pipeline"):
            times = [s["end"] - s["start"] for s in tracer.spans if s["name"] == name]
            m[name + "_s"] = median(times)
        docs = self.spark.read.parquet(self.docs_input)
        pairs = minhash_lsh_candidates(docs).localCheckpoint(eager=True)
        candidates = pairs.count()
        verified = jaccard_verify_pairs(docs, pairs, 0.5).count()
        m["operators.dedup.candidate_pairs"] = candidates
        m["operators.dedup.verified_ratio"] = verified / candidates if candidates else 0.0
        return m


WORKLOADS = {"doc_cold": DocCold, "checkpoint_curate": CheckpointCurate}


@contextlib.contextmanager
def _no_span(_name):
    yield None


# -- main -------------------------------------------------------------------------------

def unit_of(name: str, bench: dict) -> str:
    for group in ("end_to_end", "per_layer"):
        for m in bench[group]:
            if m["name"] == name:
                return m["unit"]
    raise KeyError(name)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expectation", type=int, default=0, metavar="N",
                    help="self-test hook: alter N expected rows before the check")
    args = ap.parse_args()

    bench_file = ROOT / "BENCHMARK.json"
    spec_file = HERE / "spec.json"
    if not bench_file.is_file() or not spec_file.is_file():
        fail("BENCHMARK.json or perfbench/spec.json missing")
    bench = json.loads(bench_file.read_text())
    spec = json.loads(spec_file.read_text())
    nproc = pin_environment(spec)
    import_program()
    from b2xtranslator_spark.plans.session import build_session
    from spans import Tracer

    tracer = Tracer()
    phases: dict[str, float] = {}
    spark = None
    try:
        with tracer.span("plans.session.build_session"):
            t = time.perf_counter()
            spark = build_session(master=f"local[{nproc}]", extra_conf=session_conf())
            build_s = time.perf_counter() - t
        warm_up(spark)
        setup_s = time.perf_counter() - _T0

        wl = WORKLOADS[args.workload](spark, args.seed, spec["workloads"][args.workload],
                                      args.corrupt_expectation)
        t = time.perf_counter()
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t
        # the first repetitions run on fresh Python workers while the JVM is
        # still compiling: untimed
        for _ in range(wl.p["warm_reps"]):
            wl.job(_no_span)
        reps, traced_reps, peaks = [], [], []
        deadline = time.perf_counter() + args.seconds
        while len(reps) + len(traced_reps) < MIN_REPS or time.perf_counter() < deadline:
            # every repetition starts from a collected JVM heap, so its peak
            # RSS does not depend on where the previous one left the GC
            spark._jvm.java.lang.System.gc()
            # the traced run alternates span-recording and plain repetitions
            use_tracer = args.trace and len(reps) > len(traced_reps)
            with RssSampler() as rss:
                t = time.perf_counter()
                wl.job(tracer.span if use_tracer else _no_span)
                (traced_reps if use_tracer else reps).append(time.perf_counter() - t)
            peaks.append(rss.peak_bytes)
        job_s = median(reps)
        t = time.perf_counter()
        attempted, failed = wl.check()
        phases["check"] = time.perf_counter() - t
        print(f"perfbench: setup {setup_s:.3f} reps {reps} traced {traced_reps} "
              f"peaks {[round(p / 1e6) for p in peaks]} phases {phases}", file=sys.stderr)

        if args.trace:
            metrics = {
                "plans.session.build_s": build_s,
                "trace.overhead_s": median(traced_reps) - job_s,
            }
            metrics.update(wl.layers(tracer, nproc, job_s))
            tracer.dump(WORK / "traces" / f"{args.workload}-{args.seed}.json")
            names = [m["name"] for m in bench["per_layer"]]
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "turns_per_s": wl.rows / job_s,
                "docs_per_s": wl.docs / job_s,
                "payload_mb_per_s": wl.payload_bytes / 1e6 / job_s,
                "correct_frac": 1 - failed / attempted,
                "peak_rss_mb": median(peaks) / 1e6,
            }
            names = [m["name"] for m in bench["end_to_end"]]
    finally:
        if spark is not None:
            from pyspark import SparkContext

            spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()

    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": unit_of(n, bench)}
                    for n in names},
    }
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    try:
        main()
    except Exception:  # noqa: BLE001 - any crash is "no result", exit 2
        import traceback

        traceback.print_exc()
        sys.exit(2)
