"""Scaling measurement: the same operator at N and 4N parallelism.

The two-cluster-size criterion (N vs 4N executors, throughput scaling
efficiency >= 0.8) is measured on one host by running the SAME job on the
SAME input at local[N] and local[4N], every sample in a fresh JVM so
neither level inherits the other's warmed JVM.

Usage:
    python scripts/scaling.py run --op OP --out SAMPLES.jsonl
        [--size N] [--batch B] [--levels N 4N] [--repeats R]
    python scripts/scaling.py report OUT_MD SAMPLES.jsonl [MORE.jsonl ...]

``run`` builds the op's input once (untimed set-up), then takes
``repeats`` samples per level, alternating the levels, and appends each
sample to SAMPLES.jsonl as soon as its child JVM returns. Ops and the
span one sample times:

- ``pipeline``: ``DedupPipeline.run`` + clusters count over ``size``
  seeded synthetic pages (``bench_core.synth_corpus_parquet``), the span
  ``bench_core.run_dedup_pipeline`` times; each sample also records the
  Spark jobs of every stage (``stage_jobs``);
- ``probe``: one ``probe_near_dups`` call of a ``batch``-page batch (half
  byte-copies of store pages, half fresh pages) against a signature
  store of ``size`` synthetic pages, plus a count and a noop write of the
  dup pairs; each sample also records the span's Spark jobs (``jobs``);
- ``semdedup``: IVF centroid training + ``semdedup`` over ``size``
  in-Spark synthesized vectors (``synth_vectors``);
- ``media``: ``media_frame_hashes`` + ``media_dup_pairs`` over ``size``
  in-Spark synthesized media docs (``synth_media``).

Every op's input is deterministic at any parallelism level, so its
output size is the parallelism-invariance check (``INVARIANT``): both
subcommands refuse to report when it differs across samples.

Sampling policy (pre-registered, applied from round 6 on):

1. Samples are NEVER discarded: every run that produced a RESULT line is
   appended to the samples file and appears in the report.
2. The reported number per level is best-of-all-disclosed-samples
   (minimum 3 per level for a headline). Best-of approximates
   uncontended performance on a shared host whose neighbor load inflates
   individual stage walls up to 3x, non-uniformly.
3. More samples may be appended whenever a quieter host window appears;
   they join the same pool. The stopping rule is wall-clock budget, not
   the result, and the report is regenerated from the full pool.
4. Scaling efficiency = (best_throughput@4N / best_throughput@N) / factor.
   The job must produce the identical invariant at every level and in
   every sample.
5. For pipeline samples the per-stage appendix reports, per level, the
   per-stage MINIMUM across samples ("sum of best stages") as a
   diagnostic for how much of a shortfall is host contention. The
   headline is always the whole-sample best-of, never the stage-min
   composite.

The FIRST samples file given to ``report`` is the pre-registered block;
its standalone best-of efficiency is disclosed next to the pooled one.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

INVARIANT = {
    "pipeline": "n_cluster_members",
    "probe": "n_dup_pairs",
    "semdedup": "n_members",
    "media": "n_pairs",
}
DEFAULT_SIZE = {"pipeline": 20_000, "probe": 50_000, "semdedup": 60_000, "media": 100_000}
JOB = {
    "pipeline": "end-to-end dedup job (extract -> exact collapse -> "
    "MinHash/SimHash/CDC signatures -> candidates -> verify -> connected "
    "components) on a seeded synthetic page corpus",
    "probe": "incremental probe (one probe_near_dups call of a page batch "
    "against a signature store of synthetic pages)",
    "semdedup": "SemDeDup job (IVF centroid training + semdedup over "
    "in-Spark synthesized vectors)",
    "media": "media pHash dedup job (media_frame_hashes + media_dup_pairs "
    "over in-Spark synthesized media bytes)",
}
DUP_EVERY = 10  # id % DUP_EVERY == 1 duplicates id - 1
DIM = 64


# --------------------------------------------------------------- inputs ---


def _dup_base():
    from pyspark.sql import functions as F

    return F.when(
        (F.col("id") % DUP_EVERY == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))


def synth_media(spark, n: int):
    """(url, html: binary): ~2-10 KiB deterministic pseudo-random bytes;
    every DUP_EVERY-th doc byte-identical to its predecessor."""
    from pyspark.sql import functions as F

    base = _dup_base()
    # 64..319 md5 hex blocks of 32 bytes -> 2-10 KiB, content keyed on base
    n_blocks = ((F.xxhash64(base) % 256 + 320) % 256 + 64).cast("int")
    payload = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_blocks),
            lambda i: F.md5(F.concat(base.cast("string"), F.lit(":"), i.cast("string"))),
        ),
        "",
    )
    return spark.range(n).select(
        F.concat(F.lit("m://"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("url"),
        F.encode(payload, "UTF-8").alias("html"),
    )


def synth_vectors(spark, n: int):
    """(vec_id, embedding: array<float>): unit-scale pseudo-random dim-64
    vectors; every DUP_EVERY-th vector a tiny perturbation of its
    predecessor (cosine > 0.999)."""
    from pyspark.sql import functions as F

    base = _dup_base()
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (
            F.pmod(F.xxhash64(base * DIM + i), F.lit(20001)) / 10000.0 - 1.0
        ).cast("float"),
    )
    noise = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("id") * DIM + i + 7), F.lit(2001)) / 100000.0
            - 0.01
        ).cast("float"),
    )
    emb = F.zip_with(vec, noise, lambda a, b: a + b)
    return spark.range(n).select(F.col("id").alias("vec_id"), emb.alias("embedding"))


def build_inputs(op: str, size: int, batch: int, workdir: str, cpus: int) -> None:
    """Untimed set-up shared by every sample: the page corpus (pipeline),
    or the signature store and probe batch (probe). The in-Spark
    synthesized semdedup / media inputs need none."""
    if op not in ("pipeline", "probe"):
        return
    from pyspark.sql import functions as F

    from bench_core import make_session, synth_corpus_parquet

    spark = make_session(cpus)
    corpus = synth_corpus_parquet(spark, f"{workdir}/corpus", size)
    if op == "probe":
        from video_duplicate_finder_python_spark import DedupConfig
        from video_duplicate_finder_python_spark.functions.text import extract_text_col
        from video_duplicate_finder_python_spark.operators.signature_stage import (
            compute_signatures,
        )

        pages = spark.read.parquet(corpus)
        docs = pages.select("url", extract_text_col(F.col("html")).alias("text"))
        compute_signatures(docs, DedupConfig(), keep_cols=["url", "text"]).write.mode(
            "overwrite"
        ).parquet(f"{workdir}/store")
        half = batch // 2
        copies = docs.orderBy(F.xxhash64("url")).limit(half).select(
            F.concat(F.lit("copy:"), "url").alias("url"), "text"
        )
        fresh = spark.range(batch - half).select(
            F.concat(F.lit("fresh:"), F.col("id").cast("string")).alias("url"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(120)),
                    lambda i: F.concat(
                        F.lit("pf"), F.col("id").cast("string"), F.lit("w"),
                        i.cast("string"),
                    ),
                ),
            ).alias("text"),
        )
        copies.unionByName(fresh).write.mode("overwrite").parquet(f"{workdir}/batch")
    spark.stop()


# -------------------------------------------------------------- samples ---


def measure(spark, op: str, size: int, batch: int, workdir: str) -> dict:
    """Run the op's timed span once; → ``n_docs`` (items the throughput
    counts), ``wall_s`` and the op's invariant (+ stage walls and jobs for
    the pipeline, the span's jobs for the probe)."""
    if op == "pipeline":
        from bench_core import run_dedup_pipeline

        return run_dedup_pipeline(spark, spark.read.parquet(f"{workdir}/corpus"))
    if op == "probe":
        from video_duplicate_finder_python_spark import DedupConfig
        from video_duplicate_finder_python_spark.operators.incremental_probe import (
            probe_near_dups,
        )

        from video_duplicate_finder_python_spark.plans.pipeline import StageJobCounter

        store = spark.read.parquet(f"{workdir}/store")
        new_docs = spark.read.parquet(f"{workdir}/batch")
        spark.sparkContext.setJobGroup("probe", "scaling probe sample")
        jobs = StageJobCounter(spark, first="probe", group="probe")
        t0 = time.monotonic()
        pairs, _, _ = probe_near_dups(store, new_docs, DedupConfig())
        dup = pairs.where("is_dup")
        out = {"n_docs": batch, "store_docs": size, "n_dup_pairs": dup.count()}
        dup.write.format("noop").mode("overwrite").save()
        jobs.mark("")
        out["jobs"] = jobs.jobs["probe"]
    elif op == "semdedup":
        from video_duplicate_finder_python_spark.operators.ann import train_ivf_centroids
        from video_duplicate_finder_python_spark.operators.semdedup import semdedup

        vecs = synth_vectors(spark, size)
        t0 = time.monotonic()
        cents = train_ivf_centroids(
            vecs, n_centroids=max(64, size // 400), train_size=min(size, 16384)
        )
        members, _, _ = semdedup(vecs, cents, eps=0.01, persist=True)
        out = {"n_docs": size, "n_members": members.count()}
    else:
        from video_duplicate_finder_python_spark.operators.media_dedup import (
            media_dup_pairs,
            media_frame_hashes,
        )

        t0 = time.monotonic()
        frames = media_frame_hashes(synth_media(spark, size))
        pairs, _, _ = media_dup_pairs(frames, persist=True)
        out = {"n_docs": size, "n_pairs": pairs.count()}
    wall = time.monotonic() - t0
    return {**out, "wall_s": round(wall, 3), "docs_per_sec": round(out["n_docs"] / wall, 2)}


def one(op: str, cpus: int, size: int, batch: int, workdir: str) -> None:
    from bench_core import make_session

    spark = make_session(cpus)
    rec = measure(spark, op, size, batch, workdir)
    print("RESULT " + json.dumps({"op": op, **rec, "cpus": cpus}))
    spark.stop()


def child(op: str, cpus: int, size: int, batch: int, workdir: str) -> dict:
    proc = subprocess.run(
        [sys.executable, __file__, "one", op, str(cpus), str(size), str(batch), workdir],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"{op} child local[{cpus}] failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}"
    )


# --------------------------------------------------------------- policy ---


def load(paths: list[str]) -> list[dict]:
    rows: list[dict] = []
    for p in paths:
        for line in Path(p).read_text().splitlines():
            if line.strip():
                rows.append(json.loads(line))
    return rows


def summarize(samples: list[dict]) -> dict:
    """Best-of per level and efficiency; SystemExit when the samples mix
    ops, do not span exactly two levels, or disagree on the invariant.
    Samples without an ``op`` field are pipeline samples."""
    if not samples:
        raise SystemExit("no samples")
    ops = {s.get("op", "pipeline") for s in samples}
    if len(ops) != 1:
        raise SystemExit(f"samples mix ops: {sorted(ops)}")
    op = ops.pop()
    inv = INVARIANT[op]
    values = {s[inv] for s in samples}
    if len(values) != 1:
        raise SystemExit(f"{inv} diverged across samples: {sorted(values)}")
    levels = sorted({s["cpus"] for s in samples})
    if len(levels) != 2:
        raise SystemExit(f"expected exactly 2 parallelism levels, got {levels}")
    by = {c: [s for s in samples if s["cpus"] == c] for c in levels}
    best = {c: max(by[c], key=lambda s: s["docs_per_sec"]) for c in levels}
    factor = levels[1] / levels[0]
    eff = (best[levels[1]]["docs_per_sec"] / best[levels[0]]["docs_per_sec"]) / factor
    return {"op": op, "invariant": inv, "value": values.pop(), "levels": levels,
            "by": by, "best": best, "factor": factor, "efficiency": eff}


def render(samples: list[dict], block: list[dict]) -> str:
    sm = summarize(samples)
    lo, hi = sm["levels"]
    by, best, factor = sm["by"], sm["best"], sm["factor"]
    same_levels = {s["cpus"] for s in block} == {lo, hi}
    block_eff = summarize(block)["efficiency"] if same_levels else None
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")

    # ops that record the span's Spark jobs (the probe) show them beside
    # the wall; samples taken before they were recorded show "-"
    with_jobs = any("jobs" in s for s in samples)

    def row(c: int, label: str) -> str:
        every = ", ".join(f"{s['docs_per_sec']:.1f}" for s in by[c])
        jobs = f" {best[c].get('jobs', '-')} |" if with_jobs else ""
        return (
            f"| local[{c}] ({label}) | {best[c]['wall_s']:.1f} |{jobs} "
            f"{best[c]['docs_per_sec']:.1f} | {every} |"
        )

    jobs_head, jobs_rule = (" Spark jobs |", "---|") if with_jobs else ("", "")
    md = f"""# BENCH/BASELINE — scaling-efficiency evidence

Generated {stamp} by `scripts/scaling.py report` from the full disclosed
sample pool ({len(samples)} samples). Sampling policy: pre-registered in
`scripts/scaling.py` (best-of-all-disclosed per level, no sample ever
discarded, budget-bounded stopping rule, parallelism-invariance
required).

The two-cluster-size criterion (N vs 4N executors, throughput scaling
efficiency >= 0.8) is evidenced by running the SAME {JOB[sm['op']]}
({samples[0]['n_docs']} items per sample) at two local parallelism
levels, each sample a fresh JVM. Every sample produced the identical
`{sm['invariant']}` ({sm['value']}) — a determinism check at a scale the
quadratic oracle cannot reach.

| parallelism | wall (s, best) |{jobs_head} docs/sec (best) | all samples (docs/sec) |
|---|---|{jobs_rule}---|---|
{row(lo, "N")}
{row(hi, f"{factor:.0f}N")}

**Scaling efficiency (thr@{hi} / thr@{lo}) / {factor:.0f} = {sm['efficiency']:.3f}** (bar: >= 0.8)
"""
    if block_eff is not None and len(block) < len(samples):
        md += f"""
Disclosure: the pre-registered block (the first samples file, {len(block)}
samples) read **{block_eff:.3f}** standalone; every later sample was
appended under policy item 3 and is listed above — the pool was never
pruned.
"""
    if "stage_wall_s" in best[lo]:
        stages = list(best[lo]["stage_wall_s"])
        for s in samples:  # refuse, don't fabricate: a sample missing a
            missing = set(stages) ^ set(s["stage_wall_s"])  # stage would
            if missing:  # contribute a silent 0.0 "minimum" to the diagnostic
                raise SystemExit(f"stage keys differ across samples: {missing}")
        smin = {
            c: {k: min(s["stage_wall_s"][k] for s in by[c]) for k in stages}
            for c in (lo, hi)
        }
        tot = {c: sum(smin[c].values()) for c in (lo, hi)}

        def stage_rows(val, extra=lambda k: "") -> str:
            return "\n".join(
                f"| {k} | {val(lo, k):.1f} | {val(hi, k):.1f} | "
                f"{val(lo, k) / max(val(hi, k), 0.01):.2f}x |{extra(k)}"
                for k in stages
            )

        def jobs(k: str) -> str:
            # samples taken before stage_jobs was recorded show "-"
            cells = [str(best[c].get("stage_jobs", {}).get(k, "-")) for c in (lo, hi)]
            return f" {cells[0]} | {cells[1]} |"

        md += f"""
Per-stage wall seconds and Spark jobs of the best whole sample at each
level:

| stage | local[{lo}] | local[{hi}] | speedup | jobs local[{lo}] | jobs local[{hi}] |
|---|---|---|---|---|---|
{stage_rows(lambda c, k: best[c]['stage_wall_s'][k], jobs)}
| (before the first stage) | | | | {jobs("<input>")}
| (clusters count) | | | | {jobs("output")}

## Contention diagnostic (per-stage minimum across all samples)

A stage's inputs are identical in every sample at a given level; when the
same stage reads 3x apart across samples, the delta is host contention,
not the engine. Per-stage minima and the (diagnostic-only) efficiency
they would compose to:

| stage | local[{lo}] min | local[{hi}] min | speedup |
|---|---|---|---|
{stage_rows(lambda c, k: smin[c][k])}
| **sum** | **{tot[lo]:.1f}** | **{tot[hi]:.1f}** | **{tot[lo] / tot[hi]:.2f}x** |

Stage-min composite efficiency: {tot[lo] / tot[hi] / factor:.3f} (diagnostic
only — the headline is always the whole-sample best-of above).
"""
    md += "\n## All samples (raw)\n\n" + "\n".join(
        f"Raw: `{json.dumps(s)}`" for s in samples
    ) + "\n"
    return md


# ------------------------------------------------------------------ CLI ---


def cmd_run(args) -> None:
    op = args.op
    size = args.size or DEFAULT_SIZE[op]
    lo, hi = args.levels
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    samples = []
    with tempfile.TemporaryDirectory() as workdir:
        build_inputs(op, size, args.batch, workdir, hi)
        for _ in range(args.repeats):
            for cpus in (lo, hi):
                r = child(op, cpus, size, args.batch, workdir)
                print(f"SAMPLE local[{cpus}]: {json.dumps(r)}", flush=True)
                with out.open("a") as f:
                    f.write(json.dumps(r) + "\n")
                samples.append(r)
    sm = summarize(samples)
    print("PAIRING " + json.dumps({
        "op": op,
        "n_docs": samples[0]["n_docs"],
        **{f"best_docs_per_sec@{c}": sm["best"][c]["docs_per_sec"] for c in sm["levels"]},
        "efficiency": round(sm["efficiency"], 3),
        sm["invariant"]: sm["value"],
    }))


def cmd_report(args) -> None:
    md = render(load(args.samples), load(args.samples[:1]))
    # print BEFORE writing so a bad output path cannot lose the report
    print(md)
    out = Path(args.out_md)
    (out if out.is_absolute() else REPO / out).write_text(md)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="take fresh-JVM samples at two levels")
    r.add_argument("--op", required=True, choices=sorted(INVARIANT))
    r.add_argument("--size", type=int, help="docs / store docs / vectors (op default)")
    r.add_argument("--batch", type=int, default=500, help="probe batch docs")
    r.add_argument("--levels", type=int, nargs=2, default=(1, 4), metavar=("N", "4N"))
    r.add_argument("--repeats", type=int, default=2, help="samples per level")
    r.add_argument("--out", required=True, help="samples JSONL (appended)")
    p = sub.add_parser("report", help="render the report from sample files")
    p.add_argument("out_md")
    p.add_argument("samples", nargs="+", help="first file = pre-registered block")
    o = sub.add_parser("one")  # child mode: one sample in this JVM
    o.add_argument("op")
    for name in ("cpus", "size", "batch"):
        o.add_argument(name, type=int)
    o.add_argument("workdir")
    args = ap.parse_args()
    if args.cmd == "one":
        one(args.op, args.cpus, args.size, args.batch, args.workdir)
    elif args.cmd == "run":
        cmd_run(args)
    else:
        cmd_report(args)


if __name__ == "__main__":
    main()
