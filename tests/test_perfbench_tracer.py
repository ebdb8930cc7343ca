"""The traced benchmark run reaches into the engine by name.

``perfbench/spans.py``'s ``Tracer.install()`` looks up about twenty
engine and pyspark attributes (the ``wand`` module among them) and
wraps them; the ingest layers then read each part manifest's
``step_seconds`` and the ``n_docs`` that ``_build_one_part`` returns,
and the query layers time the scatter's closures, which must stay
pandas-in (``_timed_kernel`` reads ``pdf["n"]``). A change that
removes or renames any of these breaks only the traced run, so this
test runs a tiny build, sync and scattered search under the tracer,
folds the records the way ``perfbench/workloads.py`` does, and checks
that uninstalling restores every patched attribute."""

from __future__ import annotations


def test_traced_build_sync_and_search(spark, tmp_path, monkeypatch):
    from perfbench.spans import Tracer

    tracer = Tracer(spark, str(tmp_path / "kernels"))
    tracer.install()
    patched = list(tracer._saved)
    assert patched
    try:
        _traced_ops(spark, tmp_path, tracer, monkeypatch)
    finally:
        tracer.uninstall()
    for owner, name, orig in patched:
        assert getattr(owner, name) is orig, (owner, name)


def _traced_ops(spark, tmp_path, tracer, monkeypatch) -> None:
    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.operators.postings import build_index, sync_docs
    from perfbench.workloads import _build_layers, _sync_layers

    docs = spark.createDataFrame(
        [(f"d{i:02d}", f"spark index w{i % 7} search engine {'x' * (i % 3)}")
         for i in range(40)], "doc_id string, text string")
    feed = spark.createDataFrame(
        [(f"d{i:02d}", f"spark index w{i % 7} changed text")
         for i in range(35)] + [("new", "a new spark document")],
        "doc_id string, text string")
    idx = str(tmp_path / "idx")

    rec: dict = {}
    with tracer.build(rec):
        build_index(docs, idx, shard_size=10, shards_per_part=2,
                    id_assign_partitions=2)
    layers = _build_layers(rec, idx, 4)
    assert rec["part_max"] > 0 and rec["parts_wall"] > 0
    assert 0 < layers["build.ledger_closure"][0] <= 1

    srec: dict = {}
    with tracer.sync(srec):
        out = sync_docs(feed, idx)
    layers = _sync_layers(srec, out)
    assert layers["sync.postings.parts_rebuilt"][0] >= 1
    assert layers["sync.postings.finalize_calls"][0] == 1

    # a scattered BMW search: the tracer's wrapped closure reads pdf["n"]
    qrec: dict = {}
    monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", 0)
    with tracer.search(qrec):
        rows = SI.search_index(spark, idx, "spark w3", k=5,
                               scorer="bmw").collect()
    assert rows and SI.last_scan_info()["site"] == "scatter"
    assert qrec["queries_bmw"] == 1 and qrec["postings"] > 0
