"""Tier-3: checkpoint/resume — kill after the first commits, re-run with the
same run_id, assert completed groups are not recomputed and the final output
equals an uninterrupted run (FIXTURES.md §6.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from b2xtranslator_spark.pipeline import (
    extraction_metrics,
    read_extracted,
    run_with_checkpoints,
)
from b2xtranslator_spark.sources.transcripts import (
    load_sample_corpus,
    synthesize_transcripts,
)

N_GROUPS = 4


@pytest.fixture(scope="module")
def transcripts_path(spark, tmp_path_factory):
    corpus = load_sample_corpus()
    if corpus.empty:
        pytest.skip("reference sample corpus unavailable")
    path = str(tmp_path_factory.mktemp("transcripts") / "t.parquet")
    transcripts, _ = synthesize_transcripts(
        spark, n_turns=400, doc_fraction=0.3, corpus=corpus
    )
    transcripts.write.mode("overwrite").parquet(path)
    return path


def _canonical(df):
    return (
        df.select("conv_id", "turn_idx", "text", "status")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )


def test_resume_skips_completed_and_matches_uninterrupted(
    spark, transcripts_path, tmp_path_factory
):
    out_killed = str(tmp_path_factory.mktemp("out_killed"))
    # a file:// URI: output discovery must go through Hadoop's FileSystem
    out_clean = tmp_path_factory.mktemp("out_clean").as_uri()

    # uninterrupted reference run
    stats = run_with_checkpoints(
        spark, transcripts_path, out_clean, run_id="r1", n_groups=N_GROUPS
    )
    assert stats["groups_run"] == N_GROUPS

    # killed mid-run after 2 group commits
    stats = run_with_checkpoints(
        spark,
        transcripts_path,
        out_killed,
        run_id="r2",
        n_groups=N_GROUPS,
        fail_after_groups=2,
    )
    assert stats.get("killed") and stats["groups_run"] == 2

    # resume: only the remaining groups run
    stats = run_with_checkpoints(
        spark, transcripts_path, out_killed, run_id="r2", n_groups=N_GROUPS
    )
    assert stats["groups_skipped"] == 2
    assert stats["groups_run"] == N_GROUPS - 2

    resumed = read_extracted(spark, out_killed, N_GROUPS)
    a = _canonical(resumed)
    b = _canonical(read_extracted(spark, out_clean, N_GROUPS))
    assert a.equals(b)

    # checkpoint table carries lineage + metrics, and its per-group totals
    # add up to the run totals of the output they commit
    ckpt = spark.read.parquet(f"{out_killed}/_checkpoints")
    rows = ckpt.where(F.col("run_id") == "r2").collect()
    assert len(rows) == N_GROUPS
    assert all(r["state"] == "done" for r in rows)
    totals = extraction_metrics(resumed).collect()[0]
    assert totals["docs_parsed"] > 0
    for col in ("docs_parsed", "records_decoded", "failures"):
        assert sum(r[col] for r in rows) == totals[col], col


def test_rerun_same_run_id_is_noop(spark, transcripts_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out_noop"))
    run_with_checkpoints(spark, transcripts_path, out, run_id="r3", n_groups=2)
    stats = run_with_checkpoints(spark, transcripts_path, out, run_id="r3", n_groups=2)
    assert stats["groups_run"] == 0
    assert stats["groups_skipped"] == 2


def test_group_files_are_sorted(spark, transcripts_path, tmp_path_factory):
    """The sink contract: every parquet file run_with_checkpoints writes
    under each group=<g>/ is sorted by (conv_id, turn_idx)."""
    import glob

    import pandas as pd

    out = str(tmp_path_factory.mktemp("sink"))
    run_with_checkpoints(spark, transcripts_path, out, run_id="rs", n_groups=N_GROUPS)
    for g in range(N_GROUPS):
        files = glob.glob(f"{out}/group={g}/*.parquet")
        assert files, f"group {g} wrote no file"
        for f in files:
            pdf = pd.read_parquet(f)[["conv_id", "turn_idx"]]
            expected = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            assert pdf.equals(expected), f"unsorted output file: {f}"


def test_group_selection_prunes_staged_partitions(
    spark, transcripts_path, tmp_path_factory
):
    """Resume I/O contract: per-group work reads ONLY that group's staged
    partition directory (partition pruning), never the full corpus — the
    pmod(xxhash64) predicate alone cannot push into a parquet scan, which
    would make n_groups resumed groups cost n_groups full rescans."""
    out = str(tmp_path_factory.mktemp("out_prune"))
    run_with_checkpoints(spark, transcripts_path, out, run_id="r4", n_groups=N_GROUPS)

    staged = spark.read.parquet(f"{out}/_staged_g{N_GROUPS}")
    one_group = staged.where(F.col("grp") == 1)
    plan = one_group._jdf.queryExecution().executedPlan().toString()
    # the group predicate must land in PartitionFilters (metadata pruning),
    # not PushedFilters/post-scan Filter (which would still list all files)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "grp" in pf and "= 1" in pf, f"group filter not pruned: {pf}"
    # and the staged layout is physically partitioned by group
    import glob

    assert glob.glob(f"{out}/_staged_g{N_GROUPS}/grp=1/*.parquet")
    assert len(glob.glob(f"{out}/_staged_g{N_GROUPS}/grp=*")) == N_GROUPS


def test_resume_with_different_n_groups_reruns_everything(
    spark, transcripts_path, tmp_path_factory
):
    """Review finding (r3): group numbers are meaningless across different
    n_groups — resuming the same run_id with a new group count must re-run
    all groups, never skip 'done-numbered' groups of the old partitioning."""
    out = str(tmp_path_factory.mktemp("out_regroup"))
    s1 = run_with_checkpoints(spark, transcripts_path, out, run_id="rg", n_groups=2)
    assert s1 == {"groups_run": 2, "groups_skipped": 0}
    s2 = run_with_checkpoints(spark, transcripts_path, out, run_id="rg", n_groups=4)
    assert s2["groups_skipped"] == 0 and s2["groups_run"] == 4
    # and the original partitioning still resumes as fully done
    s3 = run_with_checkpoints(spark, transcripts_path, out, run_id="rg", n_groups=2)
    assert s3 == {"groups_run": 0, "groups_skipped": 2}


def test_single_group_run(spark, transcripts_path, tmp_path_factory):
    """One group is the whole input: nothing is staged, the checkpoint row
    keeps its schema, and a second call skips the group."""
    import os

    from pyspark.sql.types import StructType

    out = str(tmp_path_factory.mktemp("out_single"))
    stats = run_with_checkpoints(spark, transcripts_path, out, run_id="r1g", n_groups=1)
    assert stats == {"groups_run": 1, "groups_skipped": 0}
    assert not os.path.exists(os.path.join(out, "_staged_g1"))
    ckpt = spark.read.parquet(f"{out}/_checkpoints")
    assert ckpt.schema == StructType.fromDDL(
        "run_id string, partition_id int, n_groups int, "
        "state string, docs_parsed long, records_decoded long, "
        "failures long, ts long"
    )
    assert [(r["run_id"], r["partition_id"], r["state"]) for r in ckpt.collect()] == [
        ("r1g", 0, "done")
    ]
    n_turns = spark.read.parquet(transcripts_path).count()
    assert read_extracted(spark, out, 1).count() == n_turns
    stats = run_with_checkpoints(spark, transcripts_path, out, run_id="r1g", n_groups=1)
    assert stats == {"groups_run": 0, "groups_skipped": 1}


def test_resume_from_checkpoints_that_carry_conv_bucket(spark, tmp_path):
    """A _checkpoints directory written while the checkpoint row still had
    a conv_bucket column (always equal to partition_id) resumes: its done
    groups are skipped, the rest run and append rows without the column,
    and the output equals a one-pass extraction."""
    import pandas as pd

    from b2xtranslator_spark.pipeline import run_extraction

    n = 24
    src = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [f"c{i % 6}" for i in range(n)],
                "turn_idx": range(n),
                "text": [f"markup:<p>turn {i} 東京</p>" if i % 3 else f"chat {i}"
                         for i in range(n)],
                "tool": [None] * n,
            }
        )
    ).write.parquet(src)
    out = str(tmp_path / "out")
    stats = run_with_checkpoints(spark, src, out, "old", n_groups=2, fail_after_groups=1)
    assert stats["killed"] and stats["groups_run"] == 1

    # rewrite the committed rows in the older layout
    ckpt = f"{out}/_checkpoints"
    rows = spark.read.parquet(ckpt).toPandas()
    rows.insert(2, "conv_bucket", rows["partition_id"])
    spark.createDataFrame(
        rows,
        "run_id string, partition_id int, conv_bucket int, n_groups int, "
        "state string, docs_parsed long, records_decoded long, failures long, "
        "ts long",
    ).write.mode("overwrite").parquet(ckpt)

    stats = run_with_checkpoints(spark, src, out, "old", n_groups=2)
    assert stats == {"groups_run": 1, "groups_skipped": 1}
    assert run_with_checkpoints(spark, src, out, "old", n_groups=2) == {
        "groups_run": 0, "groups_skipped": 2,
    }
    assert sorted(spark.read.parquet(ckpt).select("partition_id").toPandas()[
        "partition_id"]) == [0, 1]
    assert _canonical(read_extracted(spark, out, 2)).equals(
        _canonical(run_extraction(spark.read.parquet(src)))
    )
