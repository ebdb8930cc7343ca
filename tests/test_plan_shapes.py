"""Physical-plan audits: the properties that make the 100 TB story
real must be visible in `.explain`, not just asserted in docstrings.

- the query-side postings scan pushes the term-hash filter into the
  parquet source (row-group pruning via sorted th1)
- docmap hydration pushes the winner-id IN filter down
- the relational BM25 query-term join is a BROADCAST join, never a
  sort-merge or cartesian over the corpus
- no CartesianProduct anywhere in the flagship plans
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from oboyu_spark.operators import bm25 as B
from oboyu_spark.operators.postings import build_index
from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def corpus(spark):
    tr = synthesize_transcripts(spark, n_convs=40, max_turns=6, seed=23)
    return turns_as_docs(tr).select("doc_id", "text")


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planidx"))
    build_index(corpus, d, shard_size=100, salt_chunk=60,
                id_assign_partitions=4)
    return d


def test_postings_scan_pushes_term_filter(spark, index_dir):
    postings = spark.read.parquet(f"{index_dir}/postings").filter(
        F.col("th1").isin([1, 2, 3])
    )
    plan = _plan(postings)
    assert "PushedFilters" in plan and "In(th1" in plan, plan


def test_docmap_scan_pushes_id_filter(spark, index_dir):
    docmap = spark.read.parquet(f"{index_dir}/docmap").filter(
        F.col("doc_int").isin([5, 9])
    )
    plan = _plan(docmap)
    assert "In(doc_int" in plan, plan


def test_vocab_merge_plan_has_no_range_exchange(spark, index_dir):
    """r8: the merged-vocabulary write must hash-partition on th1, not
    range-partition — a range exchange's boundary sampler EXECUTES the
    whole merge aggregation a second time (its child is the groupBy +
    collect_set reduce, not a cached scan). Row-group pruning for the
    query-side In(th1) lookup only needs the within-file sort order,
    which sortWithinPartitions supplies either way."""
    from oboyu_spark.operators.postings import _merged_vocab_frame

    plan = _plan(_merged_vocab_frame(spark, index_dir))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashpartitioning(th1" in plan, plan


def _lambda_struct_extracts(df) -> list[str]:
    """GetArrayStructFields nodes (``p.tf`` over an array of structs)
    inside a lambda body of ``df``'s optimized plan — each would rebuild
    the whole array per lambda call (no CSE inside higher-order lambdas)."""
    found: list[str] = []

    def walk_expr(e, in_lambda: bool) -> None:
        name = e.getClass().getSimpleName()
        if in_lambda and name == "GetArrayStructFields":
            found.append(e.toString())
        in_lambda = in_lambda or name == "LambdaFunction"
        kids = e.children()
        for i in range(kids.size()):
            walk_expr(kids.apply(i), in_lambda)

    def walk_plan(node) -> None:
        exprs = node.expressions()
        for i in range(exprs.size()):
            walk_expr(exprs.apply(i), False)
        kids = node.children()
        for i in range(kids.size()):
            walk_plan(kids.apply(i))

    walk_plan(df._jdf.queryExecution().optimizedPlan())
    return found


def test_postings_encode_is_spark_sql_one_exchange(spark):
    """The part's postings encode runs no Python: no MapInPandas /
    ArrowEvalPython / BatchEvalPython node, exactly one Exchange, hashed
    on the full (shard, th1, th2, salt) group key, and no array-of-struct
    field extraction inside a lambda (the block arrays read the int
    list attributes, never ``p.tf`` per block)."""
    import re

    from oboyu_spark.operators.postings import _encoded_postings

    rows = [(11 + d % 3, 21, d, 1 + d % 5, 9 + d % 4, d // 100, (d % 100) // 50)
            for d in range(400)]
    enriched = spark.createDataFrame(
        rows, "th1 long, th2 long, doc_int long, tf long, dl long, "
              "shard long, salt int")
    out = _encoded_postings(enriched, 4, 100)
    plan = _plan(out)
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert re.search(r"hashpartitioning\(shard#\d+L?, th1#\d+L?, "
                     r"th2#\d+L?, salt#\d+, 4\)", plan), plan
    assert _lambda_struct_extracts(out) == []
    # the probe sees the shape it guards against
    lists = enriched.groupBy("th1").agg(
        F.collect_list(F.struct("doc_int", "tf")).alias("p"))
    assert _lambda_struct_extracts(lists.select(F.expr(
        "transform(sequence(0, 1), i -> array_max(p.tf))")))


def test_relational_bm25_joins_are_broadcast(spark, corpus):
    plan = _plan(B.bm25_search(corpus, "spark index", k=5))
    assert "CartesianProduct" not in plan, plan
    # the (term, qtf) side and stats singleton must broadcast; the only
    # acceptable nested-loop is the broadcast one against 1-row stats
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_scan_prunes_columns(spark, index_dir):
    # a 2-column projection must not read the gaps/tfs/dls payload
    df = spark.read.parquet(f"{index_dir}/postings").select("th1", "shard")
    plan = _plan(df)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "gaps" not in read_schema[0], plan


def test_search_prunes_parts_by_term(spark, tmp_path):
    """VERDICT r5 #3: postings are doc-range-sharded, so a selective
    query must NOT open every bpart — the vocabulary lookup learns
    which parts contain each term and the postings scan is limited to
    their union (a PartitionFilter on the bpart= directory column).
    A term planted in ONE part must scan only that part's files, with
    results identical to the planted doc."""
    import re

    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.operators.searchidx import search_index

    d = str(tmp_path / "pruneidx")
    # 3 bparts of 100 docs each (shard_size=50 × shards_per_part=2);
    # 'zebraquux' appears ONLY in doc 250 → only bpart 2 contains it
    rows = [(i, "common words shared by every document here "
             + ("zebraquux " if i == 250 else "filler pad ") * 3)
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_index(docs, d, shard_size=50, shards_per_part=2,
                id_assign_partitions=4)

    res = search_index(spark, d, "zebraquux", k=5).collect()
    assert [r["doc_id"] for r in res] == ["250"]
    # the search limited its scan to a strict subset of parts
    live = SI.last_scan_info()["live_parts"]
    assert live == [2], SI.last_scan_info()
    # and that filter realizes DIRECTORY pruning: same filter shape on
    # the postings scan → PartitionFilters + only bpart=2 files opened
    pruned = spark.read.parquet(f"{d}/postings").filter(
        F.col("bpart").isin(live)
    )
    plan = _plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bpart" in m.group(1), plan
    files = {r[0] for r in
             pruned.select(F.input_file_name()).distinct().collect()}
    touched = {int(re.search(r"bpart=(\d+)", f).group(1)) for f in files}
    assert touched == {2}
    # a common term present everywhere scans all parts (no false prune)
    res2 = search_index(spark, d, "common filler", k=3).collect()
    assert len(res2) == 3
    assert SI.last_scan_info()["live_parts"] == [0, 1, 2]


def _exchanges(plan: str) -> tuple[list[str], list[str]]:
    """Exchange lines of a physical-plan tree string, split into those
    outside and those inside an InMemoryRelation's cached plan."""
    outside: list[str] = []
    inside: list[str] = []
    cached_at = None  # indent of the enclosing InMemoryRelation line
    for ln in plan.splitlines():
        indent = len(ln) - len(ln.lstrip(" :|+-"))
        if cached_at is not None and indent <= cached_at:
            cached_at = None
        if cached_at is None and "InMemoryRelation" in ln:
            cached_at = indent
        elif "Exchange" in ln:
            (outside if cached_at is None else inside).append(ln)
    return outside, inside


def test_warm_reader_scatter_plans_no_exchange(spark, corpus, tmp_path,
                                               monkeypatch):
    """A warm IndexReader caches its postings hash-partitioned by
    shard, so the scatter's groupBy("shard").applyInPandas reuses the
    cached partitioning: the executed plan has no Exchange outside the
    cached relation (the positive control finds the repartition's
    Exchange inside it). Warm rows equal the one-shot search for every
    scorer and for conjunctive mode, on a ≥3-shard index. These small
    searches score on the driver by default, so the driver budget is
    lowered to the candidate count: Σdf is above it, which forces the
    scatter, and the shard winners are still rank-cut on the driver."""
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.operators.postings import load_meta
    from oboyu_spark.operators.searchidx import IndexReader, search_index

    d = str(tmp_path / "shardidx")
    build_index(corpus, d, shard_size=40, id_assign_partitions=4)
    n_shards = -(-load_meta(d)["n_docs"] // 40)
    assert n_shards >= 3
    scatters = []
    real = PandasGroupedOpsMixin.applyInPandas

    def capture(self, *a, **kw):
        df = real(self, *a, **kw)
        scatters.append(df)
        return df

    monkeypatch.setattr(PandasGroupedOpsMixin, "applyInPandas", capture)
    queries = ["spark index search", "分散 shuffle partition engine"]
    monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", len(queries) * n_shards * 5)
    reader = IndexReader(spark, d)
    try:
        reader.search_rows(queries, k=5)  # materialize the caches
        for scorer, mode in [("taat", "or"), ("bmw", "or"),
                             ("auto", "or"), ("taat", "and")]:
            n_before = len(scatters)
            rows = reader.search_rows(queries, k=5, scorer=scorer,
                                      mode=mode)
            assert len(scatters) == n_before + 1, (scorer, mode)
            plan = scatters[-1]._jdf.queryExecution().executedPlan() \
                .toString()
            outside, inside = _exchanges(plan)
            assert not outside, plan
            assert any("hashpartitioning(shard" in ln for ln in inside), plan
            want = search_index(spark, d, queries, k=5, scorer=scorer,
                                mode=mode).collect()
            assert rows and rows == [
                (r["query_id"], r["doc_id"], r["score"]) for r in want
            ], (scorer, mode)
    finally:
        reader.close()


def test_warm_small_query_is_one_jvm_only_job(spark, index_dir,
                                             monkeypatch):
    """A small warm search (Σdf over its terms within
    DRIVER_CUT_MAX_ROWS) scores on the driver. When its terms' posting
    rows are not in the reader's term cache yet it is one Spark job,
    the Arrow collect of the cached, term-filtered postings, whose
    executed plan holds no Python node; a repeat takes the rows from
    the term cache and runs no Spark job and no collect. applyInPandas
    is never called. With Σdf above a lowered budget the scatter runs
    instead, and the rows are unchanged."""
    import gc

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.operators.postings import load_meta

    collected, scatters = [], []
    real_arrow = ClassicDataFrame.toArrow
    real_apply = PandasGroupedOpsMixin.applyInPandas

    def to_arrow(self):
        collected.append(self)
        return real_arrow(self)

    def apply(self, *a, **kw):
        scatters.append(1)
        return real_apply(self, *a, **kw)

    monkeypatch.setattr(ClassicDataFrame, "toArrow", to_arrow)
    monkeypatch.setattr(PandasGroupedOpsMixin, "applyInPandas", apply)
    q = "spark index search"
    sc = spark.sparkContext
    meta = load_meta(index_dir)
    n_shards = -(-meta["n_docs"] // meta["shard_size"])
    budget = SI.DRIVER_CUT_MAX_ROWS

    def pinned(group):
        gc.collect()
        gc.disable()
        sc.setJobGroup(group, "warm driver-scored search")
        try:
            rows = reader.search_rows(q, k=5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            gc.enable()
        return rows, sc.statusTracker().getJobIdsForGroup(group)

    reader = SI.IndexReader(spark, index_dir)
    try:
        # a scattered search caches the terms' df and bparts (not their
        # rows) and the winners' doc ids
        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", n_shards * 5)
        warm = reader.search_rows(q, k=5)
        assert len(scatters) == 1 and not collected
        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", budget)

        rows, jobs = pinned("warm_driver_pin")
        assert rows == warm and len(rows) == 5
        assert len(jobs) == 1, f"warm search ran {len(jobs)} jobs: {jobs}"
        assert len(collected) == 1 and len(scatters) == 1
        plan = collected[-1]._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan  # it scans the cache
        for node in ("FlatMapGroupsInPandas", "MapInPandas",
                     "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan

        rows, jobs = pinned("warm_cached_pin")
        assert rows == warm
        assert not jobs, f"cached search ran {len(jobs)} jobs: {jobs}"
        assert len(collected) == 1 and len(scatters) == 1

        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", n_shards * 5)
        assert reader.search_rows(q, k=5) == warm
        assert len(scatters) == 2
    finally:
        reader.close()


def test_driver_site_search_runs_no_pandas(spark, index_dir, monkeypatch):
    """The driver site scores decoded numpy arrays: a warm search whose
    terms and winners are all cached runs no Spark job and calls none
    of pd.concat, DataFrame.groupby, DataFrame.itertuples or
    DataFrame.to_dict; a one-shot driver-site search decodes its
    collected Arrow table without Table.to_pandas."""
    import gc

    import pandas as pd
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from oboyu_spark.operators import searchidx as SI

    q = ["spark index search", "分散 shuffle partition engine"]
    reader = SI.IndexReader(spark, index_dir)
    try:
        warm = reader.search_rows(q, k=5)

        def refuse(*a, **kw):
            raise AssertionError("pandas on the driver-site search path")

        sc = spark.sparkContext
        with monkeypatch.context() as m:
            m.setattr(pd, "concat", refuse)
            for name in ("groupby", "itertuples", "to_dict"):
                m.setattr(pd.DataFrame, name, refuse)
            gc.collect()
            gc.disable()
            sc.setJobGroup("warm_no_pandas", "warm all-hit search")
            try:
                rows = reader.search_rows(q, k=5)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                gc.enable()
        assert SI.last_scan_info()["site"] == "driver"
        assert rows == warm and rows
        assert not sc.statusTracker().getJobIdsForGroup("warm_no_pandas")
    finally:
        reader.close()

    class NoPandasTable:
        """A collected Arrow table whose to_pandas refuses."""

        def __init__(self, tbl):
            self._tbl = tbl

        def to_pandas(self, *a, **kw):
            raise AssertionError("Table.to_pandas on the driver site")

        def __getattr__(self, name):
            return getattr(self._tbl, name)

    real_arrow = ClassicDataFrame.toArrow
    tables = []

    def to_arrow(self):
        tables.append(NoPandasTable(real_arrow(self)))
        return tables[-1]

    monkeypatch.setattr(ClassicDataFrame, "toArrow", to_arrow)
    got = SI.search_index(spark, index_dir, q, k=5).collect()
    assert SI.last_scan_info()["site"] == "driver" and len(tables) == 1
    assert [(r["query_id"], r["doc_id"], r["score"]) for r in got] == warm


def test_docmap_hydration_prunes_partitions(spark, tmp_path):
    """r7: winner hydration derives the docmap PARTITION filter from
    doc_int // part_docs (dense ids are assigned in part order), so
    only the winners' bpart directories are listed/read — at 10⁴ parts
    the per-query docmap footer fan-out disappears. Pinned: the
    derived filter lands in PartitionFilters, only the winner's part's
    files are touched, and the rows match the plain id filter."""
    import re

    from oboyu_spark.operators.postings import load_meta
    from oboyu_spark.operators.searchidx import _docmap_for_ids

    d = str(tmp_path / "dmidx")
    rows = [(i, f"word{i} common text here") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_index(docs, d, shard_size=50, shards_per_part=2,
                id_assign_partitions=4)
    meta = load_meta(d)
    assert meta.get("shards_per_part") == 2
    dm = spark.read.parquet(f"{d}/docmap")
    pruned = _docmap_for_ids(dm, meta, [250, 260])
    plan = _plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bpart" in m.group(1), plan
    files = {r[0] for r in
             pruned.select(F.input_file_name()).distinct().collect()}
    touched = {int(re.search(r"bpart=(\d+)", f).group(1)) for f in files}
    assert touched == {2}
    got = sorted(r["doc_int"] for r in pruned.collect())
    exp = sorted(r["doc_int"] for r in
                 dm.filter(F.col("doc_int").isin([250, 260])).collect())
    assert got == exp and len(got) == 2


def test_quality_filter_is_scan_fused_predicate(spark, tmp_path):
    """prepare_corpus's quality stage must be a column predicate fused
    into the scan stage — no Exchange (shuffle) and no python UDF
    between the parquet source and the filter."""
    from oboyu_spark.operators.textstats import quality_score

    p = str(tmp_path / "qdocs")
    spark.createDataFrame(
        [(i, "some reasonable text " * 20) for i in range(50)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).filter(quality_score(F.col("text")) >= 0.5)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_pii_stats_is_scan_fused(spark, tmp_path):
    """pii_stats / redact_pii are regexp column expressions — no
    Exchange, no python UDF; the scrub rides the scan at any scale."""
    from oboyu_spark.operators.textstats import pii_stats

    p = str(tmp_path / "pdocs")
    spark.createDataFrame(
        [(i, f"contact user{i}@example.com at 10.0.0.{i}")
         for i in range(20)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    plan = _plan(pii_stats(spark.read.parquet(p)))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_duplicated_spans_single_shuffle(spark, tmp_path):
    """Span-dedup detection is one explode + ONE shuffle (the window
    keyed on the 64-bit span hash) — no extra Exchange, no python UDF,
    no cartesian anywhere in the plan."""
    from oboyu_spark.operators.dedup import duplicated_spans

    p = str(tmp_path / "sdocs")
    spark.createDataFrame(
        [(i, "shared words here " * 10 + f"tail {i}") for i in range(30)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    import re

    plan = _plan(duplicated_spans(spark.read.parquet(p), n=5))
    exchanges = [
        blk for blk in re.split(r"\n\(\d+\) ", plan)
        if blk.startswith("Exchange")
    ]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(span_hash" in exchanges[0], exchanges[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_drop_spans_reduction_is_aggregation_shaped(spark, tmp_path):
    """VERDICT r6 #2: the REMOVAL path's first-occurrence reduction
    must be a partial-aggregating groupBy on span_hash (map-side
    combine absorbs a 10^8-occurrence boilerplate span) + a join back
    — never a rank window over span_hash (single-task hot key). The
    diagnostic duplicated_spans surface keeps its window (previous
    test); this one pins the drop path's plan."""
    from oboyu_spark.operators.dedup import drop_duplicated_spans

    p = str(tmp_path / "dsdocs")
    spark.createDataFrame(
        [(i, "boiler plate words " * 5 + f"tail {i}") for i in range(30)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    plan = _plan(drop_duplicated_spans(spark.read.parquet(p), n=5))
    # partial aggregation over span_hash BEFORE any exchange
    assert "partial_min" in plan and "partial_count" in plan, plan
    # no window keyed on span_hash anywhere in the drop plan (the
    # interval-merge windows are keyed on doc_id — bounded per doc)
    assert "windowspecdefinition(span_hash" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_is_scan_fused(spark, tmp_path):
    """repetition_stats is the same shape as quality_score: pure array
    column expressions — no Exchange, no python UDF; one scan covers
    the whole repetition profile at any corpus size."""
    from oboyu_spark.operators.textstats import repetition_stats

    p = str(tmp_path / "rdocs")
    spark.createDataFrame(
        [(i, "some line\nsome line\nother text here " * 3)
         for i in range(20)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    plan = _plan(repetition_stats(spark.read.parquet(p)))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_prepare_corpus_no_cartesian_no_forced_broadcast(spark, corpus):
    """The composed pipeline plan: no CartesianProduct anywhere, and
    the near-dup drop anti-join is NOT a forced broadcast (at web
    scale the drop set can be a large corpus fraction — AQE owns the
    strategy)."""
    from oboyu_spark.operators.pipeline import prepare_corpus

    r = prepare_corpus(corpus, exact=True, near_threshold=0.5,
                       min_quality=0.3, chunk_size=None)
    plan = _plan(r["docs"])
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan or "left_anti" in plan.lower(), plan


def test_rerank_stage_is_arrow_not_rowpython(spark, corpus):
    """The rerank scoring pass must be an Arrow-batched python stage
    (mapInPandas → MapInPandas/ArrowEvalPython), never row-at-a-time
    BatchEvalPython, and introduces no shuffle before the final tiny
    top-k sort."""
    from oboyu_spark.operators.rerank import rerank

    cand = corpus.limit(20)
    out = rerank(cand, "spark query", top_k=5, round_digits=6)
    plan = _plan(out)
    assert "BatchEvalPython" not in plan, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


def test_winnow_near_pairs_plan_is_bucketed(spark, corpus):
    """The fingerprint pair join must be an equi-join on fp (shuffle on
    the hash of fp), never a cartesian, and the candidate exchanges
    must carry only (doc_id/doc_a/doc_b, fp) — no text column rides a
    pair-join shuffle."""
    from oboyu_spark.operators.dedup import winnow_near_pairs

    df = winnow_near_pairs(corpus, k=8, window=4, min_common=2,
                           max_fp_df=50)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    import re

    fp_exchanges = [
        blk for blk in re.split(r"\n\(\d+\) ", plan)
        if blk.startswith("Exchange") and "hashpartitioning(fp" in blk
    ]
    assert fp_exchanges, plan  # candidates shuffle on the fingerprint
    for blk in fp_exchanges:
        assert "text" not in blk, blk


def test_connected_components_iteration_is_equijoin(spark):
    """One CC propagation step (the frame shape repeated to fixpoint)
    must plan as an equi-join on the neighbor id — no cartesian, no
    row explosion beyond the edge list."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "doc_a string, doc_b string"
    )
    edges = pairs.selectExpr("doc_a as src", "doc_b as dst")
    sym = edges.union(edges.selectExpr("dst as src", "src as dst"))
    labels = sym.selectExpr("src as doc_id").distinct() \
        .withColumn("component", F.col("doc_id"))
    step = sym.join(labels, sym["dst"] == labels["doc_id"]) \
        .select(F.col("src").alias("doc_id"), "component")
    plan = _plan(step)
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan


def test_minhash_append_band_join_is_slim(spark, corpus, tmp_path):
    """The incremental append's band joins must exchange only
    (id, band key) — signatures re-attach after candidate dedup, and
    no text column rides any band-join shuffle."""
    import re

    from oboyu_spark.operators.dedup import (
        minhash_index_append_pairs, minhash_index_build,
    )

    d = str(tmp_path / "mhplan")
    minhash_index_build(corpus, d, num_perm=16, bands=4)
    batch = corpus.limit(20)
    df = minhash_index_append_pairs(batch, d, threshold=0.5)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    # the band join is either a broadcast of the (small) batch side —
    # zero shuffle, what AQE picks here — or, at scale, a bkey
    # exchange; in the latter case it must carry only (id, bkey)
    bkey_exchanges = [
        blk for blk in re.split(r"\n\(\d+\) ", plan)
        if blk.startswith("Exchange") and "hashpartitioning(bkey" in blk
    ]
    if not bkey_exchanges:
        assert "BroadcastHashJoin" in plan, plan
    for blk in bkey_exchanges:
        assert "text" not in blk and "sig_" not in blk, blk
    # no text column through ANY exchange of the pair plan
    for blk in re.split(r"\n\(\d+\) ", plan):
        if blk.startswith("Exchange") and "hashpartitioning" in blk:
            assert "text#" not in blk, blk


def test_pack_sequences_split_single_bucket_exchange(spark, corpus):
    """Split-mode packing must cost exactly ONE shuffle — the bucket
    exchange feeding the per-bucket window — and the text column must
    not ride it (token counts are computed before the exchange... or
    at worst text is projected away by the window's child)."""
    import re

    from oboyu_spark.operators.packing import pack_sequences

    df = pack_sequences(corpus, budget=256, n_buckets=8)
    plan = _plan(df)
    exchanges = [
        blk for blk in re.split(r"\n\(\d+\) ", plan)
        if blk.startswith("Exchange") and "hashpartitioning" in blk
    ]
    assert len(exchanges) == 1, plan
    assert "bucket" in exchanges[0], exchanges[0]
    assert "text#" not in exchanges[0], exchanges[0]


def test_deterministic_sample_no_exchange(spark, corpus):
    """The sampling gate is a stateless predicate — it must fuse into
    the scan with ZERO exchanges in the executed plan."""
    from oboyu_spark.operators.sampling import deterministic_sample

    plan = _plan(deterministic_sample(corpus, 0.3, seed=5))
    assert "Exchange" not in plan, plan


def test_pii_card_scan_hoisted_once(spark, tmp_path):
    """The Luhn-checked credit-card match list is computed ONCE per row
    (r8, VERDICT r7 #4): pii_stats and the combined pipeline
    gate+scrub each carry exactly one credit-card candidate
    regexp_extract_all in their OPTIMIZED plan — the optimizer is not
    allowed to re-inline the hoisted column into both consumers."""
    from oboyu_spark.operators.pipeline import apply_pii_stage
    from oboyu_spark.operators.textstats import (
        CC_CANDIDATE_PATTERN, pii_stats,
    )

    p = str(tmp_path / "cdocs")
    spark.createDataFrame(
        [(i, f"card 4111-1111-1111-1111 mail u{i}@x.io")
         for i in range(10)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    docs = spark.read.parquet(p)

    def opt(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert opt(pii_stats(docs)).count(CC_CANDIDATE_PATTERN) == 1
    combined = apply_pii_stage(docs, 5, ("credit_card", "email"))
    assert opt(combined).count(CC_CANDIDATE_PATTERN) == 1
    # and the stage stays scan-fused: no shuffle, no python UDF
    plan = _plan(combined)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
