"""Compressed, doc-sharded inverted index — build side (resumable).

Layout (north rule: delta-gap postings, per-block max metadata,
explicit salting, checkpoint-resume with per-partition lineage):

    index_dir/
      staged.json                  the build settings record (geometry,
                                   salt_chunk, tokenizer, k1/b) frozen
                                   at staging — every part build,
                                   append, compaction and finalize
                                   reads them here — plus the parts
                                   and per-generation pid offsets
      staged/gen=G/pid=P/*.parquet frozen (doc_id, text, rn) — the
                                   build's deterministic input
                                   snapshot, written in ONE corpus
                                   pass (no pre-count); dense global
                                   ids are doc_int = offsets[pid] + rn
                                   with per-pid offsets (from the
                                   frozen files' counts) in
                                   staged.json; one generation per
                                   build/append; resume and compaction
                                   re-read this, never the live source
      postings/bpart=P/*.parquet   one row per (term-hash, salt-chunk),
                                   rows sorted by th1 for row-group
                                   pruning; each part owns its own root
                                   so part builds run concurrently:
          th1 long, th2 long — 128-bit term hash pair (see below)
          shard long, salt int, n long,
          gaps array<int> — delta gaps of the ascending shard-local
                          doc ids (doc_int − shard·shard_size; the
                          first gap is the first id)
          tfs array<int>  — term frequencies
          dls array<int>  — doc lengths (denormalized ⇒ no
                          query-time join against document_stats)
          (Parquet's dictionary/bit-packed list pages plus snappy page
          compression stand in for a hand-rolled varbyte codec; the
          whole encode is Spark SQL — see _encoded_postings)
          block_last  array<long> — last doc_int per 128-posting block
          block_maxtf array<long> — max tf per block
          block_mindl array<long> — min dl per block
          (block upper bound = idf · wtf(maxtf, mindl) is computed at
          QUERY time from current k1/b/avgdl — wtf is monotone ↑ in tf
          and ↓ in dl, so the bound stays valid when collection stats
          drift under incremental appends)
      vocabulary/                  (th1, th2, document_frequency,
                                   bparts), aggregated at finalize from
                                   the postings' (th1, th2, n, bpart)
                                   columns — the postings are the ONE
                                   source of term statistics;
                                   th1-sorted within files and carrying
                                   each term's containing-part list
                                   (bparts array<int>, NULL above
                                   PART_PRUNE_MAX_PER_TERM) — one
                                   table serves the query-side df
                                   lookup AND the part-pruning input
      docmap/bpart=P/              (doc_id, doc_int, dl, fp); doc_id
                                   has the caller's key type, recorded
                                   at staging (meta doc_id_type); winner
                                   hydration partition-prunes it via
                                   doc_int // part_docs == bpart
      tombstones/                  deleted doc_ints (applied at decode;
                                   compact() rewrites affected parts)
      manifest/part-P.json         per-partition lineage: input
                                   fingerprint, status, metrics
                                   (docs, tokens, postings, bytes, secs,
                                   the part's own jobs' shuffle bytes)
      stats/meta.json              global stats + aggregate metrics;
                                   its codec_version is the ONE layout
                                   gate — load_meta refuses any other
                                   version

Sharding is RANGE on dense doc ids (shard = doc_int // shard_size): each
shard is a partition-local index over a contiguous doc range (dense
query-side accumulators), and appends claim fresh id ranges → fresh
build partitions → existing shards are immutable.

A "build partition" (bpart) is ``shards_per_part`` consecutive shards:
the unit of checkpoint-resume. Killing a build and re-running
``build_index`` skips every bpart whose manifest row is already
``done`` and converges to the same index (pinned by tests).

Salting: a term whose global-ish df (within-part df here — at 10^12
scale parts are large enough that hot terms are hot in every part)
exceeds ``salt_chunk`` is split into range-disjoint sub-chunks BEFORE
the build shuffle, bounding every reducer group even for stop-word
terms. Chunks stay ordered and disjoint → block-max skipping sees one
ordered stream.

The reference's analog of this file is the in-memory dict index build
(inverted_index_builder.py:50-68, bm25_indexer.py:121-233) plus the
file_metadata change tracking (change_detector.py:64-105); everything
here is a from-scratch Spark design, not a port.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import B_DEFAULT, K1_DEFAULT, MIN_TOKEN_LENGTH_DEFAULT

BLOCK = 128

# Terms are stored as a 128-bit hash pair (two independent xxhash64
# passes), NOT as strings. Rationale (measured in this sandbox, and the
# same physics holds on a real cluster): every wide stage of the build
# — the (doc, term) tf aggregate, the hot-term df aggregate, the encode
# shuffle, the finalize vocabulary aggregate
# — then runs on fixed-width primitive keys, which Tungsten hash-
# aggregates without per-row string allocation (string-keyed explode+
# groupBy anti-scaled 2x at high thread counts here). Query terms are
# hashed the same way at lookup; a wrong merge needs BOTH 64-bit hashes
# to collide (~2^-128 per term pair), far below the float-noise floor
# of score parity. The human-readable vocabulary lives in the separate
# relational vocabulary table, not in the index hot path.
POSTINGS_SCHEMA = (
    "shard long, th1 long, th2 long, salt int, n long, "
    "gaps array<int>, tfs array<int>, dls array<int>, "
    "block_last array<long>, block_maxtf array<long>, block_mindl array<long>"
)

CODEC_VERSION = 7
# Read schemas of the engine-internal tables, exactly as the parquet
# reader infers them (the postings and docmap roots add their bpart
# partition column). Queries declare them: a spark.read.parquet without
# a schema runs a 1-task footer-inference job per relation. Change
# these only together with CODEC_VERSION.
POSTINGS_READ_SCHEMA = POSTINGS_SCHEMA + ", bpart int"
VOCABULARY_SCHEMA = "th1 long, th2 long, document_frequency long, bparts array<int>"

TERM_HASH_SEED2 = 7  # second hash = xxhash64(term, 7); first = xxhash64(term)


def docmap_read_schema(doc_id_type: str) -> str:
    """The docmap's read schema: doc_id has the caller's key type,
    recorded at staging as ``doc_id_type`` in staged.json and meta.json."""
    return f"doc_id {doc_id_type}, doc_int long, dl long, fp string, bpart int"


def read_docmap(spark: SparkSession, index_dir: str) -> DataFrame:
    """The docmap, read with its declared schema: staged.json (present
    whenever docmap/ is) records the key type."""
    return spark.read.schema(docmap_read_schema(
        _staged_meta(index_dir)["doc_id_type"])).parquet(f"{index_dir}/docmap")


def _in_ints(col: str, values: Iterable[int]):
    """``col IN (v1, v2, ...)`` over integer literals, built with ONE
    JVM call: ``Column.isin`` makes a py4j call per literal (0.5–1 ms
    each), which at a few hundred ids outweighs the query it filters.
    Plain decimal literals type exactly as isin's (int, or bigint past
    32 bits), so the analyzed and physical plans are the same."""
    vals = ",".join(str(int(v)) for v in values)
    return F.expr(f"{col} IN ({vals})") if vals else F.lit(False)


def term_hash_cols(term_col):
    return (
        F.xxhash64(term_col).alias("th1"),
        F.xxhash64(term_col, F.lit(TERM_HASH_SEED2)).alias("th2"),
    )


def _encoded_postings(enriched: DataFrame, n_enc: int,
                      shard_size: int) -> DataFrame:
    """The part's postings rows (POSTINGS_SCHEMA) from its
    (th1, th2, doc_int, tf, dl, shard, salt) rows — all Spark SQL, no
    Python in the stage (exposed for the plan gate: test_plan_shapes
    pins one Exchange, hashed on the full group key, no Python eval
    node, and no array-of-struct field extraction inside a lambda).

    One posting list per (shard, th1, th2, salt) group:
    ``sort_array(collect_list(struct(doc_int, tf, dl)))`` orders it by
    doc id; ``gaps`` holds the shard-local ids (doc_int −
    shard·shard_size, int32 — build_index caps shard_size below 2^31)
    delta-coded, first value absolute; ``tfs``/``dls`` are the tf and
    doc-length lists; the block arrays come from 128-posting
    ``slice``s. ``ids``/``tfs``/``dls`` are computed in their own
    projection and the block lambdas read them as attributes: the
    int casts keep CollapseProject from inlining ``p.tf`` into every
    block's lambda (no CSE inside higher-order lambdas — each block
    would rebuild the whole list)."""
    key = ("shard", "th1", "th2", "salt")
    lists = (
        enriched.repartition(n_enc, *key)
        .groupBy(*key)
        .agg(F.sort_array(F.collect_list(F.struct("doc_int", "tf", "dl")))
             .alias("p"))
        .select(
            *key,
            F.size("p").alias("n"),
            F.expr(f"transform(p, x -> cast(x.doc_int - shard * {shard_size}"
                   " as int))").alias("ids"),
            F.col("p.tf").cast("array<int>").alias("tfs"),
            F.col("p.dl").cast("array<int>").alias("dls"),
        )
    )
    seq = f"sequence(0, (n - 1) div {BLOCK})"  # block indexes; n ≥ 1
    return lists.select(
        *key,
        F.col("n").cast("long").alias("n"),
        F.expr("zip_with(ids, concat(array(0), slice(ids, 1, n - 1)),"
               " (a, b) -> a - b)").alias("gaps"),
        "tfs",
        "dls",
        F.expr(f"transform({seq}, i -> shard * {shard_size}"
               f" + ids[least((i + 1) * {BLOCK}, n) - 1])").alias("block_last"),
        F.expr(f"transform({seq}, i -> cast(array_max("
               f"slice(tfs, i * {BLOCK} + 1, {BLOCK})) as long))")
        .alias("block_maxtf"),
        F.expr(f"transform({seq}, i -> cast(array_min("
               f"slice(dls, i * {BLOCK} + 1, {BLOCK})) as long))")
        .alias("block_mindl"),
    ).sortWithinPartitions("th1", "th2", "salt", "shard")


def _tagged_shuffle_bytes(spark: SparkSession, tag: str) -> tuple[int, int] | None:
    """(shuffle write, shuffle read) bytes of the stages of the jobs
    carrying job tag ``tag`` — one part build's own jobs, exact under
    concurrent part builds. Best-effort (internal status-store API):
    None if the py4j path changes across Spark versions."""
    from py4j.protocol import Py4JError

    try:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed asynchronously: let it catch up with
        # the events of the jobs that just returned
        jsc.listenerBus().waitUntilEmpty(5_000)
        tracker = sc.statusTracker()
        stages = set()
        for j in jsc.statusTracker().getJobIdsForTag(tag):
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        store = jsc.statusStore()
        tw = tr = 0
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JError:  # skipped: no attempt recorded
                continue
            tw += sd.shuffleWriteBytes()
            tr += sd.shuffleReadBytes()
        return int(tw), int(tr)
    except Py4JError:
        return None


def _write_json(path: str, obj) -> None:
    """Atomic JSON write: readers see the old file or the new one,
    never a torn one (tmp write + rename)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=2)
    os.replace(tmp, path)


def _manifest_path(index_dir: str, p: int) -> str:
    return f"{index_dir}/manifest/part-{p:05d}.json"


def _read_manifest(index_dir: str, p: int) -> dict | None:
    try:
        with open(_manifest_path(index_dir, p)) as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _write_manifest(index_dir: str, p: int, row: dict) -> None:
    _write_json(_manifest_path(index_dir, p), row)


def _tag_local_ids(df: DataFrame) -> DataFrame:
    """(pid, rn): partition id + local row index, assigned inside the
    SAME pass that writes staged. Global ids are NOT assigned here —
    they're derived later as offsets[pid] + rn, where offsets come from
    per-pid counts of the WRITTEN (frozen) files. This kills the
    pre-write count() of the source (a full corpus pass at 100 TB just
    to size id strides) while staying sound: the unsound variant is
    collecting counts from a *recomputable* shuffle between two
    actions; counting the immutable staged parquet is not that.

    r8 (guide §4): the tag is two JVM integer expressions over
    ``monotonically_increasing_id()`` — whose value IS
    (partition id << 33) | within-partition row index — instead of a
    mapInPandas wrapper, which round-tripped every corpus text byte
    JVM→Python→JVM just to attach two integers. Same recompute
    contract as before (the id source is nondeterministic under
    retries either way, which is exactly why ids are always re-derived
    from the FROZEN written files, never from this live expression).
    Row-index width caps a staging partition at 2^33 rows — far above
    any real per-partition row count."""
    mid = F.monotonically_increasing_id()
    tagged = df.withColumn("__mid", mid)
    return tagged.select(
        *df.columns,
        F.shiftrightunsigned(F.col("__mid"), 33).cast("int").alias("pid"),
        F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)).alias("rn"),
    )


def _stage_docs(
    keyed: DataFrame,
    index_dir: str,
    part_docs: int,
    num_partitions: int,
    base: int,
    gen: int,
) -> tuple[int, list[int], dict[int, int]]:
    """ONE corpus pass: range-sort by key, tag (pid, rn), write
    partitioned by pid under ``staged/gen=<gen>``. Global ids are DENSE
    and ascending in key order: doc_int = offsets[pid] + rn with
    offsets = base + cumulative per-pid counts. The read-back that
    derives offsets and runs the integrity gate reads ONLY (pid, rn)
    and doc_id — parquet column pruning keeps the text bytes (the bulk
    at 100 TB) untouched. Returns (the generation's staged.json record
    {gen, base, n, offsets}, its parts)."""
    spark = keyed.sparkSession
    gdir = f"{index_dir}/staged/gen={gen}"
    # the range-sort's boundary sample would otherwise materialize the
    # source pipeline a second time (at 100 TB the source is often a
    # transform, not a bare scan); MEMORY_AND_DISK never recomputes —
    # worst case it spills the corpus to local disk once, which is
    # cheaper than re-running the source pipeline
    from pyspark import StorageLevel

    keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tagged = _tag_local_ids(
            keyed.repartitionByRange(num_partitions, "doc_id")
            .sortWithinPartitions("doc_id")
        )
        tagged.write.mode("overwrite").partitionBy("pid").parquet(gdir)
    finally:
        keyed.unpersist()
    # zero-row input writes only _SUCCESS — no pid=* dirs to infer a
    # schema from: an empty generation (round-1 parity)
    per_pid: dict[int, tuple[int, int, int]] = {}
    if any(f.startswith("pid=") for f in os.listdir(gdir)):
        # one integrity/offsets job: range partitioning puts EQUAL keys
        # in the same pid, so global key-distinctness == Σ per-pid
        # distincts
        per_pid = {
            int(r["pid"]): (int(r["n"]), int(r["mx"]), int(r["nk"]))
            for r in spark.read.parquet(gdir).groupBy("pid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max("rn").alias("mx"),
                F.countDistinct("doc_id").alias("nk"),
            )
            .collect()
        }
    for pid, (n, mx, nk) in sorted(per_pid.items()):
        if mx != n - 1:
            raise RuntimeError(
                f"staging integrity violation: gen {gen} pid {pid} holds "
                f"{n} rows but max rn is {mx} (expected {n - 1})"
            )
        if nk != n:
            raise RuntimeError(
                f"staging integrity violation: gen {gen} pid {pid} holds "
                f"{n} rows but {nk} distinct keys"
            )
    offsets: dict[str, int] = {}
    acc = base
    for pid in sorted(per_pid):
        offsets[str(pid)] = acc
        acc += per_pid[pid][0]
    parts = list(range(base // part_docs, (acc - 1) // part_docs + 1))
    return {"gen": gen, "base": base, "n": acc - base, "offsets": offsets}, parts


def _staged_meta(index_dir: str) -> dict:
    with open(f"{index_dir}/staged.json") as fh:
        return json.load(fh)


def _part_docs(smeta: dict) -> int:
    return smeta["settings"]["shard_size"] * smeta["settings"]["shards_per_part"]


def staged_part_df(spark: SparkSession, index_dir: str, p: int,
                   smeta: dict | None = None) -> DataFrame:
    """The frozen input slice of build partition ``p``:
    (doc_id, text, doc_int), doc_int derived from the staged offsets.
    Generations are part-aligned (every append base is a part
    boundary), so exactly one generation covers a part; within it only
    the pids overlapping the part's id range are read (directory-level
    partition pruning on pid)."""
    smeta = smeta or _staged_meta(index_dir)
    part_docs = _part_docs(smeta)
    lo, hi = p * part_docs, (p + 1) * part_docs
    for g in smeta["gens"]:
        if g["base"] <= lo < g["base"] + g["n"]:
            break
    else:
        raise ValueError(f"part {p} is not covered by any staged generation")
    offs = sorted((int(k), int(v)) for k, v in g["offsets"].items())
    sel: list[int] = []
    sel_offs: dict[int, int] = {}
    for i, (pid, off) in enumerate(offs):
        pid_end = offs[i + 1][1] if i + 1 < len(offs) else g["base"] + g["n"]
        if off < hi and pid_end > lo:
            sel.append(pid)
            sel_offs[pid] = off
    sub = spark.read.parquet(f"{index_dir}/staged/gen={g['gen']}").filter(
        _in_ints("pid", sel)
    )
    omap = F.create_map(
        *[x for pid in sel for x in (F.lit(pid), F.lit(sel_offs[pid]))]
    )
    sub = sub.withColumn("doc_int", omap[F.col("pid")] + F.col("rn"))
    return sub.filter((F.col("doc_int") >= lo) & (F.col("doc_int") < hi))


def _stage(
    docs: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str,
    settings: dict,
    id_assign_partitions: int | None,
) -> dict:
    """Freeze the input (strided ids + bpart partitions, written once)
    and the build ``settings`` with it: staged.json's ``settings``
    record is the ONE place every later part build, append, compaction
    and finalize reads them from."""
    if os.path.exists(f"{index_dir}/staged.json"):
        return _staged_meta(index_dir)
    # no staged.json → any staged files are a partial crashed write
    import shutil

    shutil.rmtree(f"{index_dir}/staged", ignore_errors=True)
    spark = docs.sparkSession
    keyed = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    num_partitions = id_assign_partitions or spark.sparkContext.defaultParallelism
    part_docs = settings["shard_size"] * settings["shards_per_part"]
    g, parts = _stage_docs(keyed, index_dir, part_docs, num_partitions, 0, 0)
    meta = {
        "settings": settings,
        # the docmap's key type: its read schema is declared from it
        "doc_id_type": keyed.schema["doc_id"].dataType.simpleString(),
        "n_docs": g["n"],
        "parts": parts,
        "gens": [g],
    }
    _write_json(f"{index_dir}/staged.json", meta)
    return meta


def _build_one_part(spark: SparkSession, index_dir: str, p: int,
                    tag: str) -> dict:
    """Build postings + docmap for one bpart, with the settings frozen
    in staged.json. ``tag`` is the part's job tag: a failing tf →
    postings chain cancels the part's jobs with it, so the error
    surfaces without waiting out the overlapped docmap write.

    Shuffle budget (the thing that matters at 100 TB): doc length is
    carried through tokenization (dl = size of the filtered token
    array, computed BEFORE the explode) so no join against
    document_stats is ever needed; salting uses a driver-collected
    broadcast map of the few hot terms (df > salt_chunk) so no join
    against the vocabulary either. Net per part: ONE wide shuffle of
    (doc, dl, term) for the tf aggregate, one small term-agg shuffle
    for the hot-term set, and the (shard, term, salt) encode shuffle.
    """
    t0 = time.time()
    smeta = _staged_meta(index_dir)
    cfg = smeta["settings"]
    shard_size, salt_chunk = cfg["shard_size"], cfg["salt_chunk"]
    sub = staged_part_df(spark, index_dir, p, smeta)

    from .termindex import with_tokens

    # fp = whitespace-normalized content hash, the change-detection key
    # (reference change_detector.py:64-105 uses file hashes; here the
    # doc IS the unit) — sync_docs diffs against it without ever
    # re-reading staged text. Computed HERE, in the same projection as
    # tokenization, so the raw text column can be DROPPED before the
    # persist: the cached frame carries (ids, dl, fp, tokens) instead
    # of text + tokens (≈2× the text bytes), and the docmap/stats/tf
    # consumers below never touch the wide column again.
    from ..functions.text import collapse_whitespace

    from pyspark.sql.types import ArrayType

    if isinstance(sub.schema["text"].dataType, ArrayType):
        # PRE-TOKENIZED input (array<string> text column): the caller
        # already ran the tokenizer — pass the array through. The
        # change-detection fingerprint hashes the space-joined token
        # stream (consistent for any index built from the same
        # pretokenized source; don't mix raw-text and pretokenized
        # builds of one index). Used by scaling_bench's compute-phase
        # isolation (VERDICT r6 #7): the timed parts phase is then the
        # aggregate+encode compute, with the regex tokenizer out of
        # the measurement.
        toks = (
            sub.withColumn("tokens", F.col("text"))
            .withColumn("dl", F.size("tokens"))
            .withColumn("fp", F.md5(F.concat_ws(" ", F.col("text"))))
            .drop("text")
        )
    else:
        toks = (
            with_tokens(sub, "text", "tokens", cfg["min_token_length"],
                        cfg["stop_words"])
            .withColumn("dl", F.size("tokens"))
            .withColumn("fp", F.md5(collapse_whitespace(F.col("text"))))
            .drop("text")
        )
    toks = toks.persist()
    steps: dict[str, float] = {}

    # docmap for this part — straight projection, no join, no agg; the
    # per-part (n_docs, tokens) stats ride the SAME action as an
    # Observation (r8: one fewer barrier per part — the standalone
    # toks.agg job re-scanned the persisted frame just for two
    # scalars). observe() sits ABOVE the range exchange so its
    # accumulators never see the exchange's boundary-sampling pass.
    # The write is submitted from a helper thread (r8 cont., guide
    # §2.6): it shares no dependency with the tf→encode chain below, so
    # Spark schedules its stages alongside the tf aggregate instead of
    # serializing the whole docmap write onto the part's critical path
    # (~1.5 s of a ~9 s part wall at bench geometry, and the straggler
    # tail of every multi-part build). Both consumers read the SAME
    # persisted `toks` frame. The block lock is per executor: there the
    # first task to reach an uncached partition tokenizes and stores
    # it, and the other job's concurrent task waits and reads the block
    # (one tokenization per partition in local mode). Tasks on two
    # executors share no lock, so on a cluster both jobs can tokenize
    # the same partition. step_seconds are per-step wall clocks; docmap
    # overlaps tf_vocab. The thread inherits this one's job group and
    # tags (the part's tag included).
    from concurrent.futures import ThreadPoolExecutor, wait

    from pyspark import inheritable_thread_target
    from pyspark.sql import Observation

    obs_dm = Observation()

    def _write_docmap() -> None:
        t_dm = time.time()
        toks.select(
            "doc_id", "doc_int", F.col("dl").cast("long").alias("dl"), "fp",
        ) \
            .repartitionByRange(4, "doc_int").sortWithinPartitions("doc_int") \
            .observe(
                obs_dm,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("tokens"),
            ) \
            .write.mode("overwrite").parquet(f"{index_dir}/docmap/bpart={p}")
        steps["docmap"] = round(time.time() - t_dm, 3)

    dm_pool = ThreadPoolExecutor(max_workers=1)
    dm_fut = dm_pool.submit(inheritable_thread_target(spark)(_write_docmap))
    t_s = time.time()
    tf = None

    try:
        # term strings leave the pipeline HERE: everything downstream keys
        # on the fixed-width 128-bit hash pair (see POSTINGS_SCHEMA note)
        tf = (
            toks.select(
                "doc_int",
                F.col("dl").cast("long").alias("dl"),
                F.explode("tokens").alias("term"),
            )
            .select("doc_int", "dl", *term_hash_cols(F.col("term")))
            .groupBy("doc_int", "dl", "th1", "th2")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        tf = tf.persist()

        # the hot-term (skew) set: the part's one term-keyed action,
        # which also materializes the persisted tf frame for the encode
        # below. Hot terms are few by definition (df > salt_chunk) —
        # broadcast map, no join. The vocabulary itself is aggregated
        # from the written postings at finalize.
        hot = [
            (int(r["th1"]), int(r["th2"]), min(-(-int(r["df"]) // salt_chunk), 64))
            for r in tf.groupBy("th1", "th2")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > salt_chunk)
            .collect()
        ]
        steps["tf_vocab"] = round(time.time() - t_s, 3)
        t_s = time.time()
        if hot:
            hot_df = spark.createDataFrame(
                hot, "th1 long, th2 long, salt_count long"
            )
            tf_s = tf.join(F.broadcast(hot_df), ["th1", "th2"], "left").withColumn(
                "salt_count", F.coalesce("salt_count", F.lit(1))
            )
        else:
            tf_s = tf.withColumn("salt_count", F.lit(1))

        enriched = tf_s.select(
            "th1", "th2", "doc_int", "tf", "dl",
            (F.col("doc_int") / shard_size).cast("long").alias("shard"),
            (
                (F.pmod(F.col("doc_int"), F.lit(shard_size)) * F.col("salt_count"))
                / F.lit(shard_size)
            ).cast("int").alias("salt"),
        )
        # ONE encode shuffle, hashed on the FULL (shard, th1, th2, salt)
        # group key, then the group-by and list encode in Spark SQL (see
        # _encoded_postings); the output is sorted by th1 within each
        # file for row-group pruning, so no post-encode repartition.
        # th1-first sort nesting: files keep ascending th1 → tight
        # parquet row-group min/max for the query-side term filter (each
        # file holds a hash-scattered SUBSET of terms, but the rows
        # within it are th1-sorted, so row groups still cover narrow
        # disjoint th1 ranges).
        # Partitioning key (r8): hashing on `shard` alone capped the encode
        # stage's parallelism at the part's shard count — 6 tasks for the
        # wide-vocab bench geometry, ONE task for a 130k-doc big-shard part
        # — which is the measured wide-vocab scaling floor (VERDICT r7 #2:
        # 2→8 cores = 0.54). Groups need not be co-located per shard
        # (the query side re-groups by shard anyway), so hashing the
        # full key spreads the ~|vocab| tiny posting groups evenly over a
        # scale-adaptive task count (≥ cluster parallelism, never fewer
        # than the shard count) and also de-skews hot salted terms.
        n_enc = max(cfg["shards_per_part"],
                    spark.sparkContext.defaultParallelism)
        postings = _encoded_postings(enriched, max(2, n_enc), shard_size)
        # each part owns its own postings root → part builds can run
        # CONCURRENTLY (disjoint output paths, no shared-directory
        # partition-overwrite semantics to get wrong); readers discover
        # bpart=*/ via normal partition inference.
        # The manifest counters ride the write as an Observation (r8
        # cont.): the separate read-back job existed only to fetch two
        # sums (~0.3 s/part of pure job latency). Sibling-wipe detection is
        # unchanged — finalize_index still reads the FINAL postings dir and
        # compares it against these claimed counts.
        obs_po = Observation()
        postings.observe(
            obs_po,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("postings"),
        ).write.mode("overwrite").parquet(f"{index_dir}/postings/bpart={p}")
        steps["encode"] = round(time.time() - t_s, 3)
    except BaseException:
        # fail fast: a failed chain must not wait out the overlapped
        # docmap write — cancel the part's jobs until the docmap thread
        # returns (a job it submits after one cancel meets the next)
        while not dm_fut.done():
            spark.sparkContext.cancelJobsWithTag(tag)
            wait([dm_fut], timeout=0.5)
        raise
    finally:
        # join the overlapped docmap write before leaving the part (on
        # the error path its own failure must not mask the chain's)
        dm_err = dm_fut.exception()
        dm_pool.shutdown()
        toks.unpersist()
        if tf is not None:
            tf.unpersist()
    if dm_err is not None:
        raise dm_err
    dm_stats = obs_dm.get
    n_docs_part, tokens_part = int(dm_stats["n"]), int(dm_stats["tokens"])
    agg = obs_po.get
    elapsed = time.time() - t0
    return {
        "bpart": p,
        "status": "done",
        "n_docs": int(n_docs_part),
        "tokens": tokens_part,
        "posting_rows": int(agg["rows"]),
        "n_postings": int(agg["postings"]),
        # the written postings files — what the part costs on disk
        "compressed_payload_bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(f"{index_dir}/postings/bpart={p}")
            for f in fs),
        "build_seconds": round(elapsed, 3),
        "step_seconds": steps,
        "docs_per_sec": round(n_docs_part / elapsed, 2) if elapsed > 0 else None,
        "tokens_per_sec": round(tokens_part / elapsed, 2) if elapsed > 0 else None,
    }


def _merged_vocab_frame(spark: SparkSession, index_dir: str) -> DataFrame:
    """The vocabulary frame finalize_index writes, aggregated from the
    postings (exposed for the plan gate: test_plan_shapes pins that it
    carries NO range exchange — a range exchange's boundary sampler
    executes the whole aggregation a second time).

    Shards and salt chunks are doc-disjoint, so a term's df is the sum
    of its posting rows' ``n``; column pruning leaves the scan only
    (th1, th2, n, bpart), never the posting blobs."""
    if not os.path.isdir(f"{index_dir}/postings"):
        return spark.createDataFrame([], VOCABULARY_SCHEMA)
    # bparts (r7): the vocabulary CARRIES each term's containing-part
    # list, so the query-side df lookup and the part-pruning input are
    # ONE th1-sorted table scan. Hot terms present in more parts than
    # PART_PRUNE_MAX_PER_TERM store NULL (they prune nothing and their
    # full lists would make the vocabulary O(vocab·parts)).
    # Consistency: every build and every _mutate step that builds a part
    # ends in finalize_index; a delete only tombstones (pruning stays
    # correct, merely looser).
    from .searchidx import PART_PRUNE_MAX_PER_TERM as _CAP

    nparts = max(4, int(spark.sparkContext.defaultParallelism) // 4)
    return (
        spark.read.schema(POSTINGS_READ_SCHEMA)
        .parquet(f"{index_dir}/postings")
        .groupBy("th1", "th2")
        .agg(
            F.sum("n").alias("document_frequency"),
            F.sort_array(F.collect_set("bpart")).alias("ba"),
        )
        .withColumn("bparts", F.when(F.size("ba") <= F.lit(_CAP), F.col("ba")))
        .drop("ba")
        # th1-HASH-partitioned, th1-sorted WITHIN files (r8 cont.): the
        # lookup's pushed In(th1) filter prunes via row-group min/max
        # stats, which only need the within-file sort order — the same
        # device as the encode stage's output files. A
        # repartitionByRange would buy globally disjoint file ranges at
        # the cost of the range sampler EXECUTING THE AGGREGATION A
        # SECOND TIME (a range exchange samples its child plan to pick
        # boundaries; the child here is the whole groupBy +
        # collect_set reduce, not a cached scan).
        .repartition(nparts, "th1")
        .sortWithinPartitions("th1", "th2")
    )


def finalize_index(spark: SparkSession, index_dir: str) -> dict:
    """Aggregate the vocabulary from the postings, compute collection
    stats, check every part's postings against its manifest, write meta
    (the build settings are copied from staged.json for the query
    side)."""
    from pyspark.sql import Observation

    smeta = _staged_meta(index_dir)
    dm_schema = docmap_read_schema(smeta["doc_id_type"])
    # the vocabulary row count rides the write as an Observation: no
    # count job over the written table
    obs_vocab = Observation()
    vocab = _merged_vocab_frame(spark, index_dir).observe(
        obs_vocab, F.count(F.lit(1)).alias("n"))
    # the vocabulary aggregate shares nothing with the docmap stats /
    # integrity jobs below — run it on a helper thread so Spark
    # schedules them together (guide §2.6) instead of three sequential
    # barriers; the thread inherits the caller's job group and tags
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    fin_pool = ThreadPoolExecutor(max_workers=1)
    vocab_fut = fin_pool.submit(inheritable_thread_target(spark)(
        lambda: vocab.write.mode("overwrite").parquet(
            f"{index_dir}/vocabulary"
        )
    ))
    try:
        if os.path.isdir(f"{index_dir}/docmap"):
            docmap = spark.read.schema(dm_schema).parquet(f"{index_dir}/docmap")
        else:
            docmap = spark.createDataFrame([], dm_schema)
        tomb = load_tombstones(index_dir)
        if tomb:
            docmap = docmap.filter(~_in_ints("doc_int", tomb))
        cs = docmap.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("total"),
        ).collect()[0]
        n_docs, total_terms = int(cs["n"]), int(cs["total"])
        avgdl = total_terms / n_docs if n_docs else 0.0

        parts = []
        mdir = f"{index_dir}/manifest"
        if os.path.isdir(mdir):
            for fn in sorted(os.listdir(mdir)):
                if fn.endswith(".json"):
                    with open(f"{mdir}/{fn}") as fh:
                        parts.append(json.load(fh))
        total_secs = sum(pm.get("build_seconds", 0) for pm in parts)

        # integrity gate, per part: each bpart's FINAL postings dir must
        # hold exactly what its manifest claims (guards against
        # partition-overwrite modes silently wiping sibling parts, and
        # names the damaged part — an equal-total redistribution across
        # parts is caught too)
        on_disk: dict[int, int] = {}
        if os.path.isdir(f"{index_dir}/postings"):
            on_disk = {
                int(r["bpart"]): int(r["n"])
                for r in spark.read.schema(POSTINGS_READ_SCHEMA)
                .parquet(f"{index_dir}/postings")
                .groupBy("bpart").agg(F.sum("n").alias("n"))
                .collect()
            }
    finally:
        vocab_err = vocab_fut.exception()
        fin_pool.shutdown()
    if vocab_err is not None:
        raise vocab_err
    claimed = {int(pm["bpart"]): int(pm.get("n_postings", 0)) for pm in parts}
    bad = [
        f"bpart {p}: postings dir holds {on_disk.get(p, 0)}, manifest "
        f"claims {claimed.get(p, 0)}"
        for p in sorted(set(on_disk) | set(claimed))
        if on_disk.get(p, 0) != claimed.get(p, 0)
    ]
    if bad:
        raise RuntimeError("index integrity violation: " + "; ".join(bad))

    meta = {
        "codec_version": CODEC_VERSION,
        "block": BLOCK,
        # k1, b, min_token_length and the geometry: doc_int //
        # (shard_size * shards_per_part) == bpart by construction
        # (staging assigns dense ids in part order) — the query side
        # derives docmap PARTITION filters from winner ids
        **smeta["settings"],
        "doc_id_type": smeta["doc_id_type"],
        "n_docs": n_docs,
        "total_terms": total_terms,
        "avgdl": avgdl,
        "n_vocab_terms": int(obs_vocab.get["n"]),
        "posting_rows": sum(pm.get("posting_rows", 0) for pm in parts),
        "n_postings": sum(pm.get("n_postings", 0) for pm in parts),
        "compressed_payload_bytes": sum(
            pm.get("compressed_payload_bytes", 0) for pm in parts
        ),
        "n_parts": len(parts),
        "shuffle_write_bytes": sum(
            pm.get("shuffle_write_bytes") or 0 for pm in parts
        ),
        "shuffle_read_bytes": sum(
            pm.get("shuffle_read_bytes") or 0 for pm in parts
        ),
        "build_seconds": round(total_secs, 3),
        "docs_per_sec": round(n_docs / total_secs, 2) if total_secs > 0 else None,
        "tokens_per_sec": round(total_terms / total_secs, 2)
        if total_secs > 0
        else None,
    }
    _write_json(f"{index_dir}/stats/meta.json", meta)
    return meta


def _build_parts(spark: SparkSession, index_dir: str, parts) -> dict:
    """The part loop of build_index and _mutate: build each part of
    ``parts`` whose manifest row is not ``done`` (≤4 concurrently —
    disjoint output roots), write its manifest, then finalize. A part
    failing before it ever had a manifest leaves no postings or docmap.

    Each submission is wrapped by its OWN ``inheritable_thread_target``
    call, which clones the caller's local properties (job group,
    scheduler pool) once: cancelling the caller's group cancels the
    part's jobs, and the part's job tag lands in its own copy (one
    shared wrapper would share one Properties object and leak tags
    between concurrent parts)."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    t0 = time.time()
    pending = [
        p for p in parts
        if not (
            (row := _read_manifest(index_dir, p)) and row.get("status") == "done"
        )
    ]

    def run(p: int) -> None:
        sc = spark.sparkContext
        tag = f"oboyu-part-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            row = _build_one_part(spark, index_dir, p, tag)
        except BaseException:
            if _read_manifest(index_dir, p) is None:
                for t in ("postings", "docmap"):
                    shutil.rmtree(f"{index_dir}/{t}/bpart={p}",
                                  ignore_errors=True)
            raise
        finally:
            sc.removeJobTag(tag)
        sh = _tagged_shuffle_bytes(spark, tag)
        row["shuffle_write_bytes"], row["shuffle_read_bytes"] = sh or (None, None)
        _write_manifest(index_dir, p, row)

    if pending:
        with ThreadPoolExecutor(max_workers=min(4, len(pending))) as ex:
            futs = [ex.submit(inheritable_thread_target(spark)(run), p)
                    for p in pending]
            for f in futs:
                f.result()
    t1 = time.time()
    meta = finalize_index(spark, index_dir)
    # wall clock of the (overlapping) part builds, then finalize
    meta["phase_seconds"] = {
        "parts_wall": round(t1 - t0, 3),
        "finalize": round(time.time() - t1, 3),
    }
    return meta


def build_index(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_size: int = 100_000,
    salt_chunk: int = 200_000,
    shards_per_part: int = 8,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    min_token_length: int = MIN_TOKEN_LENGTH_DEFAULT,
    stop_words: Iterable[str] | None = None,
    id_assign_partitions: int | None = None,
) -> dict:
    """Checkpoint-resumable index build. Re-running after a crash skips
    bparts whose manifest rows are ``done``; it builds generation 0's
    parts only (later generations belong to append and sync steps)."""
    if not 0 < shard_size < 2**31:
        raise ValueError(
            f"shard_size={shard_size} must be in [1, 2**31): the postings "
            "store shard-local doc ids as int32"
        )
    t_stage0 = time.time()
    settings = {
        "shard_size": shard_size,
        "shards_per_part": shards_per_part,
        "salt_chunk": salt_chunk,
        "min_token_length": min_token_length,
        "stop_words": sorted(set(stop_words)) if stop_words else None,
        "k1": k1,
        "b": b,
    }
    smeta = _stage(docs, index_dir, id_col, text_col, settings,
                   id_assign_partitions)
    stage_wall = round(time.time() - t_stage0, 3)
    # a resume builds with the FROZEN settings: parts, shard bases and
    # winner hydration's doc_int → bpart pruning derive from the
    # geometry, and parts built with other tokenizer or salting
    # settings would mix into one index
    staged = smeta.get("settings", {})
    for key, want in settings.items():
        if staged.get(key) != want:
            raise ValueError(
                f"{index_dir} is staged with {key}={staged.get(key)}, the "
                f"build asked for {key}={want} — resume with the staged "
                "settings or delete the directory to rebuild"
            )

    # generation 0 only: a later one is an append's or one a crashed
    # sync abandoned, whose keys a newer generation holds again
    part_docs = _part_docs(smeta)
    meta = _build_parts(docs.sparkSession, index_dir, [
        p for p in smeta["parts"] if p * part_docs < smeta["gens"][0]["n"]])
    # phase decomposition for the bench report: staging (the single
    # corpus materialization + id freeze), then the part builds and
    # finalize
    meta["phase_seconds"] = {"stage": stage_wall, **meta["phase_seconds"]}
    return meta


def load_meta(index_dir: str) -> dict:
    """The index's stats/meta.json — and the ONE layout gate: every
    entry point (search, reader, append, delete, sync, compact) opens
    the index through here, so an index written by another codec
    version is refused before anything reads or mutates it."""
    with open(f"{index_dir}/stats/meta.json") as fh:
        meta = json.load(fh)
    if meta.get("codec_version") != CODEC_VERSION:
        raise ValueError(
            f"index at {index_dir} has codec_version "
            f"{meta.get('codec_version')}, engine expects {CODEC_VERSION} "
            "— rebuild the index"
        )
    return meta


# ---------------------------------------------------------------------------
# Mutation (reference I4-I7 analog): append, delete, compaction and sync
# all run ONE step, _mutate
# ---------------------------------------------------------------------------

def load_tombstones(index_dir: str) -> set[int]:
    path = f"{index_dir}/tombstones/doc_ints.json"
    try:
        with open(path) as fh:
            return set(json.load(fh))
    except FileNotFoundError:
        return set()


def _key_frame(spark: SparkSession, keys: list, doc_id_type: str) -> DataFrame:
    """(doc_id) frame of driver-side keys in the index's key type, built
    through Arrow: a LocalRelation for a broadcast semi-join (Python
    rows are an RDD scan; ``Column.isin`` is one py4j call per key)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    typ = StructType.fromDDL(f"doc_id {doc_id_type}")["doc_id"].dataType
    return spark.createDataFrame(
        pa.table({"doc_id": pa.array(keys, to_arrow_type(typ))}))


def _drop_staged(spark: SparkSession, index_dir: str, smeta: dict,
                 tomb: set[int]) -> None:
    """Rewrite the staged slices holding tombstoned ids without them;
    survivors keep their (pid, rn), so their doc_int. Every replacement
    is written to staged_tmp before any swap starts, so a slice
    orphaned between a swap's rmtree(live) and rename(tmp, live) is
    complete and rolls FORWARD on the next entry."""
    import bisect
    import shutil

    # map each tombstoned doc_int to its (gen, pid, rn)
    removals: dict[tuple[int, int], list[int]] = {}
    for g in smeta["gens"]:
        offs = sorted((int(v), int(k)) for k, v in g["offsets"].items())
        starts = [v for v, _ in offs]
        for d in sorted(tomb):
            if g["base"] <= d < g["base"] + g["n"]:
                off, pid = offs[bisect.bisect_right(starts, d) - 1]
                removals.setdefault((int(g["gen"]), pid), []).append(d - off)
    paths = {k: (f"{index_dir}/staged/gen={k[0]}/pid={k[1]}",
                 f"{index_dir}/staged_tmp/gen={k[0]}/pid={k[1]}")
             for k in removals}
    for src, tmp in paths.values():
        if not os.path.isdir(src) and os.path.isdir(tmp):
            os.rename(tmp, src)
    for k, rns in removals.items():
        spark.read.parquet(paths[k][0]).filter(~_in_ints("rn", rns)) \
            .write.mode("overwrite").parquet(paths[k][1])
    for src, tmp in paths.values():
        shutil.rmtree(src, ignore_errors=True)
        os.rename(tmp, src)
    shutil.rmtree(f"{index_dir}/staged_tmp", ignore_errors=True)


def _mutate(spark: SparkSession, index_dir: str, meta: dict,
            tomb: Iterable[int] = (), docs: DataFrame | None = None,
            compact: bool = False) -> dict:
    """The ONE step that changes an index after its build (``meta`` is
    the caller's load_meta). In order: (1) tombstone the doc_ints
    ``tomb`` — searches mask them from here on; (2) stage ``docs``
    (doc_id, text) as a new generation at the next part boundary;
    (3) with ``compact``, drop every tombstoned id from the staged
    slices and mark their parts stale; (4) ONE part loop over the stale
    and new parts, which build concurrently, and ONE finalize; (5) with
    ``compact``, clear the tombstones LAST, so a crash anywhere before
    leaves every deleted doc masked.

    A crash between (2) and (4) leaves the new generation unbuilt; its
    keys are absent from the docmap, so the caller's next diff (sync)
    or anti-join (streaming ingest) stages them again as a newer
    generation, and nothing builds the abandoned one. With nothing to
    build the entry ``meta`` is returned: a delete without compaction
    keeps N/avgdl/df pre-delete (a finalize would shrink N under stale
    df, and df > N breaks the ln-IDF domain)."""
    smeta = _staged_meta(index_dir)
    if docs is not None:
        key_type = docs.schema["doc_id"].dataType.simpleString()
        if key_type != smeta["doc_id_type"]:
            raise ValueError(
                f"{index_dir} holds {smeta['doc_id_type']} doc ids, the "
                f"appended docs have {key_type} keys — cast the key column"
            )
    tombs = load_tombstones(index_dir)
    if not tombs >= set(tomb):
        tombs |= set(tomb)
        _write_json(f"{index_dir}/tombstones/doc_ints.json", sorted(tombs))
    part_docs = _part_docs(smeta)
    build: set[int] = set()
    if docs is not None:
        gen = len(smeta["gens"])
        base = (max(smeta["parts"], default=-1) + 1) * part_docs
        g, new_parts = _stage_docs(
            docs, index_dir, part_docs,
            spark.sparkContext.defaultParallelism, base, gen,
        )
        if g["n"]:
            smeta["gens"].append(g)
            smeta["n_docs"] += g["n"]
            smeta["parts"] = sorted(set(smeta["parts"]) | set(new_parts))
            _write_json(f"{index_dir}/staged.json", smeta)
            build.update(new_parts)
    compact = compact and bool(tombs)
    if compact:
        _drop_staged(spark, index_dir, smeta, tombs)
        stale = {d // part_docs for d in tombs}
        for p in sorted(stale):
            _write_manifest(index_dir, p, {"bpart": p, "status": "stale"})
        build |= stale
    if not build:
        return meta
    # parts a crashed compaction marked stale (slices rewritten, no
    # postings) build too, or finalize's integrity gate refuses
    build |= {p for p in smeta["parts"]
              if (_read_manifest(index_dir, p) or {}).get("status") == "stale"}
    out = _build_parts(spark, index_dir, sorted(build))
    if compact:
        # the rebuilt docmap no longer holds these ids: a crash before
        # this line merely masks ids that no longer exist
        os.remove(f"{index_dir}/tombstones/doc_ints.json")
    return out


def append_docs(
    new_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Incremental append (reference change-detector analog I6, done the
    Iceberg-snapshot way): _mutate stages the docs with FRESH id ranges
    from the next part boundary → fresh build partitions, builds them
    and re-finalizes; existing shards are never touched, and tombstones
    stay until compaction. New keys must not collide with existing ones
    (caller contract — updates go through ``sync_docs``)."""
    keyed = new_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return _mutate(new_docs.sparkSession, index_dir, load_meta(index_dir),
                   docs=keyed)


def sync_docs(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    delete_missing: bool = True,
    compact: bool = True,
) -> dict:
    """Automatic change detection + incremental sync — the reference's
    change_detector.py:64-105 ("hash" strategy) as ONE pass: a diff of
    incoming (doc_id, content-hash) against the live docmap's (doc_id,
    doc_int, fp) — full-outer join, one shuffle, no text re-read, only
    the CHANGED rows collected, each with its old doc_int — then ONE
    _mutate step (one part loop, one finalize):
    - NEW keys            → staged
    - MODIFIED (fp diff)  → old doc_int tombstoned, new text staged
    - DELETED (absent)    → tombstoned (``delete_missing=False`` keeps
      them — the "incoming is a partial feed" mode)
    The rows to stage come from ``docs`` by a semi-join against an
    Arrow-built key frame. ``compact=True`` (the default) also rewrites
    the parts holding tombstoned docs, so df/N/avgdl are exact;
    ``compact=False`` defers that per the delete_docs contract (a
    delete-only sync returns the entry meta; on heavy churn a stale df
    can exceed N, which the query path rejects with a "run
    compact_index" error). Returns
    {"new": n, "modified": n, "deleted": n, "meta": meta}."""
    spark = docs.sparkSession
    meta = load_meta(index_dir)
    incoming = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    from ..functions.text import collapse_whitespace

    inc = incoming.select(
        "doc_id", F.md5(collapse_whitespace(F.col("text"))).alias("fp_new")
    )
    docmap = read_docmap(spark, index_dir)
    tomb = load_tombstones(index_dir)
    if tomb:
        docmap = docmap.filter(~_in_ints("doc_int", tomb))
    existing = docmap.select("doc_id", "doc_int", F.col("fp").alias("fp_old"))
    change = (
        F.when(F.col("fp_old").isNull(), "new")
        .when(F.col("fp_new").isNull(), "deleted")
        .when(F.col("fp_new") != F.col("fp_old"), "modified")
    )
    rows: dict[str, list] = {"new": [], "modified": [], "deleted": []}
    for r in (inc.join(existing, "doc_id", "full_outer")
              .select("doc_id", "doc_int", change.alias("change"))
              .filter(F.col("change").isNotNull()).collect()):
        rows[r["change"]].append(r)
    if not delete_missing:
        rows["deleted"] = []
    add = [r["doc_id"] for r in rows["new"] + rows["modified"]]
    meta = _mutate(
        spark, index_dir, meta,
        tomb={int(r["doc_int"]) for r in rows["modified"] + rows["deleted"]},
        docs=incoming.join(_key_frame(spark, add, meta["doc_id_type"]),
                           "doc_id", "left_semi") if add else None,
        compact=compact,
    )
    return {**{k: len(v) for k, v in rows.items()}, "meta": meta}


def delete_docs(spark: SparkSession, index_dir: str, doc_keys: list) -> dict:
    """Mark docs deleted (by original key, resolved by a semi-join
    against an Arrow-built key frame): _mutate tombstones them, scorers
    mask them at decode, and the entry meta is returned — stats stay
    pre-delete until a finalize recomputes N/avgdl and
    ``compact_index`` the df (the reference rewrites posting lists
    eagerly — inverted_index_builder.py:70-92 — which at 10^12 docs is
    exactly what we must NOT do per deletion)."""
    meta = load_meta(index_dir)
    keys = _key_frame(spark, list(doc_keys), meta["doc_id_type"])
    ints = {int(r["doc_int"]) for r in read_docmap(spark, index_dir)
            .join(keys, "doc_id", "left_semi").select("doc_int").collect()}
    return _mutate(spark, index_dir, meta, tomb=ints)


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Drop the tombstoned docs for good (the reference's
    remove_from_index + stats removal, I4/I5, done partition-locally):
    _mutate rewrites their staged slices, rebuilds the affected parts,
    re-finalizes and clears the tombstones LAST. Crash-safe and
    idempotent: a crash anywhere mid-compact leaves the deleted docs
    masked, and re-running rolls an orphaned ``staged_tmp`` slice
    forward, re-applies a no-op filter, rebuilds and only then clears
    the mask."""
    return _mutate(spark, index_dir, load_meta(index_dir), compact=True)
