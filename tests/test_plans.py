"""Physical-plan assertions: the optimizations we rely on at 100TB scale
must be visible in explain() output, not assumed (predicate pushdown, column
pruning, broadcast joins, partial aggregation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(docs):
    df = docs.where(F.col("doc_id") < 100).select("doc_id", "n_chars")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "LessThan(doc_id,100)" in plan.replace(
        " ", ""
    ).replace("LessThan(doc_id,100)", "LessThan(doc_id,100)") or "doc_id" in plan
    # column pruning: only the two selected columns in ReadSchema
    assert "text" not in plan.split("ReadSchema")[-1]


def test_small_dims_are_broadcast(spark):
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "entrymod", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)
    df = em.queries()["revenue_by_region"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_has_partial_phase(docs):
    df = docs.groupBy("source").agg(F.sum("n_chars").alias("s"))
    plan = _plan(df)
    # partial + final hash aggregate = map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_extraction_plan_shape(spark):
    """The extraction job must be scan -> exchange (salted) -> python map:
    exactly one shuffle, no joins, no driver-side collect."""
    from b2xtranslator_spark.pipeline import run_extraction
    from b2xtranslator_spark.sources.transcripts import synthesize_transcripts

    try:
        transcripts, _ = synthesize_transcripts(spark, n_turns=50, doc_fraction=0.2)
    except Exception:
        pytest.skip("sample corpus unavailable")
    extracted = run_extraction(transcripts)
    plan = _plan(extracted)
    assert "MapInArrow" in plan
    assert plan.count("Exchange") >= 1
    # extraction itself must add no joins beyond the generator's broadcasts
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_on_textstats(docs):
    from b2xtranslator_spark.operators.textstats import quality_score

    plan = _plan(quality_score(docs))
    assert "*(1)" in plan  # whole-stage-codegen marker
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs
    assert "ArrowEvalPython" not in plan


def test_bucketed_tables_join_without_shuffle(spark, docs, tmp_path_factory):
    """Bucketing pre-shuffles once at write time; co-bucketed joins then run
    with NO exchange — the 100TB co-location strategy for repeated joins on
    conv_id/doc_id keys."""
    spark.sql("DROP TABLE IF EXISTS docs_a")
    spark.sql("DROP TABLE IF EXISTS docs_b")
    small = docs.select("doc_id", "n_chars")
    small.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("docs_a")
    small.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("docs_b")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("docs_a").join(spark.table("docs_b"), "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        join_section = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in join_section, "bucketed join still shuffles"
        assert joined.count() == small.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS docs_a")
        spark.sql("DROP TABLE IF EXISTS docs_b")


def test_embedding_lsh_has_no_cross_join(spark):
    """The banded-LSH near-dup candidates must come from per-(band, bucket)
    grouping — never a cartesian/nested-loop product. Since the round-6
    restructure the candidate stage is ONE groupBy + row-local pair
    explode (no self-join at all): the band-bucketing kernel must appear
    exactly once in the plan (the old self-join executed it twice)."""
    from b2xtranslator_spark.operators.similarity import (
        embedding_near_duplicates_lsh,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(embedding_near_duplicates_lsh(emb, max_vecs=100))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("MapInArrow") == 1, "band kernel must run once"


def test_simhash_votes_aggregate_partially(docs):
    """SimHash's per-bit votes must partial-aggregate map-side (one shuffle
    of 60 vote columns per doc, not one row per token)."""
    from b2xtranslator_spark.operators.dedup import simhash

    plan = _plan(simhash(docs.where(F.col("doc_id") < 50)))
    assert plan.count("HashAggregate") >= 2


def test_checkpoint_group_read_is_partition_pruned(spark, tmp_path_factory):
    """Group selection reads only its staged partition directory."""
    import pandas as pd

    from b2xtranslator_spark.pipeline import PAYLOAD_PREFIX

    base = str(tmp_path_factory.mktemp("prune_plan"))
    rows = [(f"c{i}", 0, "u", "hello", "", pd.Timestamp("2026-01-01")) for i in range(50)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    spark.createDataFrame(pdf).withColumn(
        "grp", F.pmod(F.xxhash64("conv_id"), F.lit(4))
    ).write.mode("overwrite").partitionBy("grp").parquet(f"{base}/staged")
    df = spark.read.parquet(f"{base}/staged").where(F.col("grp") == 2)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "grp" in pf


def test_winnowing_plan_has_zero_shuffle(docs):
    """Round-3 claim: winnowing is a PURE MAP (no explode-per-char through a
    window sort) — the physical plan must contain no Exchange at all."""
    from b2xtranslator_spark.operators.textstats import winnowing_fingerprints

    plan = _plan(winnowing_fingerprints(docs, max_docs=50))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan


def test_top_tokens_has_partial_agg_and_takeordered(docs):
    """Heavy hitters: map-side partial count before the shuffle, TakeOrdered
    for the top-k (never a global sort of the vocabulary)."""
    from b2xtranslator_spark.operators.textstats import top_tokens

    plan = _plan(top_tokens(docs, k=10))
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_skew_guarded_joins_have_no_cartesian(spark, docs):
    """The guarded candidate joins (minhash + image dHash) must stay
    equi-joins: no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    from b2xtranslator_spark.operators.dedup import minhash_lsh_candidates
    from b2xtranslator_spark.operators.multimodal import (
        image_near_duplicates,
        synthesize_media,
    )

    for df in (
        minhash_lsh_candidates(docs.where(F.col("doc_id") < 50), 16, 4),
        image_near_duplicates(synthesize_media(spark, n_rows=12)),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_markup_and_pdf_queries_have_no_premap_shuffle(spark):
    """The synthesized markup/PDF extraction queries must stay the headline
    plan shape: scan -> projection (payload synthesis) -> python map, with
    no Exchange before the mapInArrow and no join anywhere."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "entrymod", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)
    for name in ("extract_markup_transcripts", "extract_pdf_transcripts"):
        plan = _plan(em.queries()[name](spark, SF_DIR))
        map_idx = plan.find("MapInArrow")
        assert map_idx >= 0, plan
        below = plan[map_idx:]
        # the only Exchange allowed upstream of the map is the
        # _scatter_small round-robin of pre-synthesis rows (restores
        # parallelism on one-file bench tables; guarded no-op at scale)
        for line in below.splitlines():
            if "Exchange" in line:
                assert "RoundRobinPartitioning" in line, (
                    f"{name}: non-scatter shuffle below the map\n{line}"
                )
        assert "Join" not in plan, f"{name} must be join-free"


def test_sessionize_batch_single_shuffle(spark):
    """Window on user_id and the per-session groupBy must REUSE one hash
    partitioning — 1 Exchange total (the co-partitioning argument that
    makes batch sessionization linear at 10^12 events)."""
    from b2xtranslator_spark.operators.conversation import sessionize_events

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(sessionize_events(ev))
    assert plan.count("Exchange") == 1


def test_duplicate_spans_no_pair_explosion(spark):
    """The gram join must be a 1:N probe against the filtered hash set
    (broadcast at small scale, AQE-SMJ beyond), never a pair-join or a
    nested loop."""
    from b2xtranslator_spark.operators.dedup import duplicate_text_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(duplicate_text_spans(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # two real shuffles (gram-count agg, per-doc window) + the hash-set join
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 3


def test_unigram_logprob_vocab_is_broadcast(spark):
    """Pass 2 joins the corpus against the top-V vocab: the corpus side
    must never shuffle for the join — vocab is the broadcast side."""
    from b2xtranslator_spark.operators.textstats import unigram_logprob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(unigram_logprob(docs, vocab_size=100))
    assert "BroadcastHashJoin" in plan


def test_new_extraction_legs_shuffle_only_prescatter(spark):
    """The synthesized extraction legs chain payload synthesis and
    extraction as pure maps. The ONLY allowed Exchange is the small-scan
    round-robin scatter of pre-synthesis rows (doc_id/text/source) that
    restores parallelism on one-file bench tables (_scatter_small — a
    guarded no-op at corpus scale where splits abound). Synthesized
    payloads must never shuffle: no hash/range Exchange anywhere. Each leg
    runs ONE Python evaluation, its fused mapInArrow: a synthesis UDF
    chained in front of the extraction map is a second Arrow worker per
    task and a second boundary crossing of every payload."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "entrymod2", Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    )
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)
    for name in (
        "extract_rtf_transcripts",
        "extract_docx_transcripts",
        "extract_odt_transcripts",
        "extract_ods_transcripts",
        "extract_odp_transcripts",
        "extract_epub_transcripts",
        "extract_eml_transcripts",
        "extract_text_transcripts",
        "extract_markup_transcripts",
        "extract_markup_main_content",
        "extract_pdf_transcripts",
    ):
        plan = _plan(em.queries()[name](spark, SF_DIR))
        assert plan.count("MapInArrow") == 1, (name, plan)
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in plan, (name, node)
        n_ex = plan.count("Exchange")
        assert n_ex <= 1, (name, n_ex)
        if n_ex:
            assert "RoundRobinPartitioning" in plan, name
            assert "hashpartitioning" not in plan.lower(), name


def test_every_module_is_reachable():
    """Every module of the package is imported, directly or transitively,
    by a product entry point: a module only its own tests import is dead
    code. Pure ``ast`` walk of absolute and relative imports (function-level
    imports included); no Spark. The roots are the entry points only.
    Empty ``__init__.py`` files are exempt."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "b2xtranslator_spark"

    def dotted(path):
        parts = list(path.relative_to(repo).with_suffix("").parts)
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    modules = {dotted(p): p for p in pkg.rglob("*.py")}
    roots = [
        pkg / "cli.py",
        pkg / "pipeline.py",
        repo / "__spark_entry__.py",
        repo / "scripts" / "job.py",
    ]

    def imported(path):
        name = dotted(path) if path.is_relative_to(pkg) else ""
        here = name if path.name == "__init__.py" else name.rpartition(".")[0]
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                yield from (a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = here.rsplit(".", node.level - 1)[0] if node.level else ""
                mod = ".".join(p for p in (base, node.module) if p)
                yield mod
                yield from (f"{mod}.{a.name}" for a in node.names)

    seen, todo = set(), list(roots)
    while todo:
        for name in imported(todo.pop()):
            # importing a.b.c runs the package modules a and a.b too
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in seen:
                    seen.add(prefix)
                    todo.append(modules[prefix])
    seen.update(dotted(p) for p in roots if p.is_relative_to(pkg))

    orphans = sorted(
        name
        for name, path in modules.items()
        if name not in seen and path.read_text().strip()
    )
    assert not orphans, f"modules no entry point imports: {orphans}"


def test_every_definition_has_a_caller():
    """Every module-level function and class of the package, and every
    method of a class without bases, is named by some file outside
    ``tests/`` (the package itself included): a definition only tests call
    is dead code. A reference is a name, an attribute or an imported name;
    ``__all__`` strings are not references, and dunders are exempt. Methods
    of classes with bases (``HTMLParser`` overrides) are called by the base
    and are not checked. Pure ``ast`` walk over names, not scopes; no
    Spark."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "b2xtranslator_spark"
    sources = [
        p
        for p in repo.rglob("*.py")
        if not any(
            part == "tests" or part.startswith(".")
            for part in p.relative_to(repo).parts
        )
    ]

    referenced, defined = set(), []
    for path in sources:
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                referenced.update(a.name for a in node.names)
        if not path.is_relative_to(pkg):
            continue
        rel = path.relative_to(pkg).as_posix()
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            defined.append((f"{rel}:{node.name}", node.name))
            if isinstance(node, ast.ClassDef) and not node.bases:
                defined += [
                    (f"{rel}:{node.name}.{m.name}", m.name)
                    for m in node.body
                    if isinstance(m, ast.FunctionDef)
                ]

    unused = [
        where
        for where, name in defined
        if name not in referenced
        and not (name.startswith("__") and name.endswith("__"))
    ]
    assert not unused, f"definitions no file outside tests/ names: {unused}"


def test_decompression_is_charged_in_budget():
    """One module knows the decompression bound: no module of the package
    but ``budget.py`` calls a ``decompress``, and only
    ``ooxml._read_member`` opens or reads a zip member (``zf.open(...)``
    or ``zf.read(...)`` on a name, in a module that imports zipfile; a
    builtin ``open(path).read()`` is no member). Every inflate then
    goes through ``budget.inflate`` and charges the one per-document
    allowance. Pure ``ast`` walk; no Spark."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "b2xtranslator_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "budget.py":
            continue
        tree = ast.parse(path.read_text())
        zips = any(
            isinstance(n, ast.Import) and any(a.name == "zipfile" for a in n.names)
            or isinstance(n, ast.ImportFrom) and n.module == "zipfile"
            for n in ast.walk(tree)
        )
        exempt = {
            id(n)
            for f in ast.walk(tree)
            if rel == "formats/ooxml.py"
            and isinstance(f, ast.FunctionDef)
            and f.name == "_read_member"
            for n in ast.walk(f)
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or id(node) in exempt:
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            member = zips and name in ("open", "read") and isinstance(
                getattr(f, "value", None), ast.Name
            )
            if name == "decompress" or member:
                offenders.append(f"{rel}:{node.lineno} {name}")
    assert not offenders, f"inflates outside budget.py: {offenders}"


def test_python_stages_are_arrow_maps():
    """Every Python stage of the package and of ``__spark_entry__.py`` is a
    ``mapInArrow``, directly or through ``pipeline.map_rows``: no file
    there calls, decorates with or imports ``mapInPandas``,
    ``pandas_udf`` or ``applyInPandas``. Pure ``ast`` walk; no Spark."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pandas_maps = {"mapInPandas", "pandas_udf", "applyInPandas"}
    offenders = []
    for path in [*sorted((repo / "b2xtranslator_spark").rglob("*.py")),
                 repo / "__spark_entry__.py"]:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            else:
                continue
            offenders += [
                f"{path.relative_to(repo)}:{node.lineno} {n}"
                for n in names if n in pandas_maps
            ]
    assert not offenders, f"pandas-based Python stages: {offenders}"
