"""Closed-loop benchmark of `reach_spark.pipeline.run_batch`, the batch
KG-construction path that `jobs/run_pipeline.py` drives.

Run from the repository root:

    python3 perfbench/run.py --workload papers --seed 1 --seconds 16 --trace 0

One client (this process, Spark `local[<cores>]`) submits one batch and
waits for it before it submits the next. Inputs come from
`reach_spark.synth.make_documents(seed=--seed)` and are written to parquet
before any timing; `run_batch` only sees the parquet path. Every batch's
output is checked. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics of a separate
traced run (perfbench/layers.py). The line before it is the workload
record (sizes, digests, probes, failed_run_frac).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MAX_DOC_SPANS = 10000  # jobs/run_pipeline.py's --max-doc-spans default
OUTPUT_TABLES = ("mentions", "triple_occurrences", "canonical_entities",
                 "triples", "metrics", "checkpoint_docs")


@dataclass(frozen=True)
class Workload:
    n_docs: int          # docs in the batch handed to run_batch
    n_new: int           # > 0: the first n_docs - n_new form a prebuilt KG
    synth: dict = field(default_factory=dict)  # make_documents arguments

    @property
    def n_base(self) -> int:
        return self.n_docs - self.n_new

    def scaled(self, frac: float, keep_base: bool = False) -> Workload:
        """The same input with a fraction of the docs (at least one new
        doc on a resumed workload); `keep_base` keeps a resumed workload's
        base KG whole."""
        n_new = max(1, int(self.n_new * frac)) if self.n_new else 0
        n_base = (self.n_base if keep_base and self.n_new
                  else int(self.n_base * frac))
        return Workload(max(1, n_base + n_new), n_new, self.synth)


# Sizes keep one run (set-up, preparation, two batches and their checks)
# near 45-60 s on 4 cores; README.md gives the reasons per workload.
WORKLOADS = {
    # short unique docs: many small coref groups
    "abstracts": Workload(300, 0, {"unique": True, "skew_every": 0}),
    # long unique docs: no memo hits, so extraction does all its work
    "papers": Workload(50, 0, {"unique": True, "skew_every": 1,
                               "skew_repeat": 120}),
    # a new batch resumed into a prebuilt KG of duplicate-heavy docs
    "incremental": Workload(210, 60, {}),
}
WARMUP = Workload(40, 0, {"unique": True, "skew_every": 0})
WARMUP_SEED_OFFSET = 7919  # warm-up docs never share ids with the input


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's doc counts (smoke test)")
    return ap.parse_args(argv)


def code_version() -> str:
    """Digest of the program's sources (reach_spark/): triples digests are
    compared between runs of the same code only."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "reach_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class DigestLog:
    """Triples digest per (code, workload, seed, sizes), kept in the
    checkout across runs so a later run of the same code and seed is
    checked against the first."""

    def __init__(self, path: str, key: str):
        self.path, self.key = path, key
        try:
            with open(path) as fh:
                self.known = json.load(fh)
        except FileNotFoundError:
            self.known = {}

    def get(self) -> str | None:
        return self.known.get(self.key)

    def put(self, digest: str) -> None:
        self.known[self.key] = digest
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.known, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


class Bench:
    """One benchmark process: session, inputs, set-up, measured batches."""

    max_doc_spans = MAX_DOC_SPANS

    def __init__(self, spark, name: str, wl: Workload, seed: int, work: str):
        self.spark, self.wl, self.seed, self.work = spark, wl, seed, work
        self.wl_name = name
        self.docs_path = os.path.join(work, "docs")
        self.base_dir = None
        self.reference: dict[str, str] = {}   # table -> from-scratch digest
        self.earlier = None   # triples digest of an earlier run, same code
        self.entities_ref = None
        self.failed = 0
        self.attempted = 0
        self.walls: list[float] = []
        self.docs_processed = 0
        self.record: dict = {}
        self._n = 0

    def write_docs(self, wl: Workload, n_docs: int, seed: int,
                   path: str) -> str:
        from reach_spark.synth import make_documents
        make_documents(self.spark, n_docs=n_docs, seed=seed, **wl.synth) \
            .write.mode("overwrite").parquet(path)
        return path

    def sentences(self, docs) -> list[str]:
        """Every sentence of a documents DataFrame, split the way
        run_batch splits them."""
        from pyspark.sql import functions as F
        from reach_spark.extract import split_sentences
        spans = (docs.select(F.explode("spans").alias("s"))
                 .where("s.kind = 'text' AND s.text != ''")
                 .select("s.text").collect())
        split: dict[str, list[str]] = {}
        out = []
        for (text,) in spans:
            if text not in split:
                split[text] = split_sentences(text)
            out.extend(split[text])
        return out

    def digest(self, path: str) -> str:
        """Order-independent content digest of a parquet table: sha256
        over the sorted sha256 of each row's JSON (columns sorted)."""
        from pyspark.sql import functions as F
        df = self.spark.read.parquet(path)
        row = F.to_json(F.struct(*sorted(df.columns)))
        hashes = sorted(r[0] for r in df.select(F.sha2(row, 256)).collect())
        return hashlib.sha256("\n".join(hashes).encode()).hexdigest()

    @staticmethod
    def fresh_out(out_dir: str, base_dir: str | None) -> None:
        """Empty `out_dir`, or make it a copy of the KG in `base_dir`. The
        copy is made of hard links: Spark never rewrites a parquet file in
        place (appends add files, overwrites delete them), so it behaves
        as a real copy, yet it writes no data and deleting it frees no
        blocks. On a disk that discards freed blocks, unlinking a file
        that has reached the disk costs milliseconds."""
        shutil.rmtree(out_dir, ignore_errors=True)
        if base_dir:
            shutil.copytree(base_dir, out_dir, copy_function=os.link)

    def run_batch(self, docs_path: str, out_dir: str,
                  base_dir: str | None) -> tuple[float, dict]:
        """One run_batch call the way jobs/run_pipeline.py makes it; an
        incremental batch resumes into a fresh copy of the prebuilt KG
        (the copy is not timed)."""
        from reach_spark.pipeline import run_batch
        self.fresh_out(out_dir, base_dir)
        docs = self.spark.read.parquet(docs_path)
        t0 = time.perf_counter()
        counts = run_batch(self.spark, docs, out_dir, resume=True,
                           max_doc_spans=self.max_doc_spans)
        return time.perf_counter() - t0, counts

    def check(self, out_dir: str) -> tuple[list[str], dict[str, str]]:
        """Failures of one batch's output, and its digests: every output
        table is non-empty, every input doc is checkpointed, and each
        table in `self.reference` has its reference digest."""
        problems = []
        read = self.spark.read.parquet
        for name in OUTPUT_TABLES:
            if read(os.path.join(out_dir, name)).isEmpty():
                problems.append(f"{name} is empty")
        missing = (read(self.docs_path).select("doc_id")
                   .join(read(os.path.join(out_dir, "checkpoint_docs")),
                         "doc_id", "left_anti").count())
        if missing:
            problems.append(f"{missing} input docs not in checkpoint_docs")
        digests = {name: self.digest(os.path.join(out_dir, name))
                   for name in {"triples", *self.reference}}
        for name, want in self.reference.items():
            if digests[name] != want:
                problems.append(f"{name} digest {digests[name][:12]} != "
                                f"reference {want[:12]}")
        if self.earlier and digests["triples"] != self.earlier:
            problems.append("triples differ from an earlier run of the same "
                            "code and seed")
        return problems, digests

    def out_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"out{self._n}")

    def setup(self) -> dict[str, float]:
        """KB load and one warm-up batch (JIT, codegen, Python worker
        start-up), timed apart from writing inputs. A resumed workload's
        warm-up batch builds its base KG; the others run a small batch of
        their own."""
        from reach_spark.grounding import kb_dataframe
        if self.wl.n_new:
            warm_docs = self.write_docs(self.wl, self.wl.n_base, self.seed,
                                        os.path.join(self.work, "base_docs"))
            warm_out = self.base_dir = os.path.join(self.work, "base_kg")
        else:
            warm_docs = self.write_docs(
                WARMUP, WARMUP.n_docs, self.seed + WARMUP_SEED_OFFSET,
                os.path.join(self.work, "warmup_docs"))
            warm_out = os.path.join(self.work, "warmup_kg")
        t0 = time.perf_counter()
        kb_dataframe(self.spark).count()
        t1 = time.perf_counter()
        self.run_batch(warm_docs, warm_out, None)
        t2 = time.perf_counter()
        if not self.base_dir:
            # deleted while its files are young and cheap to unlink
            shutil.rmtree(warm_out)
        return {"kb_load_s": t1 - t0, "warmup_s": t2 - t1}

    def prepare(self) -> None:
        """Write the input; for a resumed workload also build the
        from-scratch KG over the same docs, which every resumed batch must
        reproduce."""
        self.write_docs(self.wl, self.wl.n_docs, self.seed, self.docs_path)
        if not self.wl.n_new:
            return
        scratch = os.path.join(self.work, "scratch_kg")
        self.run_batch(self.docs_path, scratch, None)
        self.reference = {
            name: self.digest(os.path.join(scratch, name))
            for name in ("triples", "mentions", "triple_occurrences")}
        self.entities_ref = self.digest(
            os.path.join(scratch, "canonical_entities"))
        shutil.rmtree(scratch)

    def batch(self) -> None:
        """One measured batch plus its output check."""
        self.attempted += 1
        out = self.out_dir()
        try:
            wall, counts = self.run_batch(self.docs_path, out, self.base_dir)
            problems, digests = self.check(out)
        except Exception as exc:  # a failed batch is counted, not fatal
            import traceback
            traceback.print_exc()
            problems = [f"run_batch raised {type(exc).__name__}: {exc}"]
        if problems:
            self.failed += 1
            print(f"batch {self.attempted} failed: {problems}",
                  file=sys.stderr)
        else:
            # same code, same seed: every batch must give the same triples
            self.reference.setdefault("triples", digests["triples"])
            self.walls.append(wall)
            self.docs_processed = counts["docs"]
            if not self.record:
                self.record = self.describe(out, counts, digests)
        shutil.rmtree(out, ignore_errors=True)

    def describe(self, out: str, counts: dict, digests: dict) -> dict:
        sents = self.sentences(self.spark.read.parquet(self.docs_path))
        rec = {
            "docs": self.wl.n_docs,
            "docs_processed": counts["docs"],
            "sentences": len(sents),
            "sentences_per_doc": len(sents) / self.wl.n_docs,
            "distinct_sentence_frac": len(set(sents)) / len(sents),
            "mentions": counts["mentions"],
            "triples": counts["triples"],
            "triples_digest": digests["triples"],
        }
        if self.entities_ref is not None:
            got = self.digest(os.path.join(out, "canonical_entities"))
            rec["entities_match"] = got == self.entities_ref
        return rec

    def measure(self, seconds: float) -> None:
        """Closed loop: a batch starts when the previous one and its check
        are done, while less than `seconds` have passed; at least one
        batch runs."""
        t_end = time.perf_counter() + seconds
        self.batch()
        while time.perf_counter() < t_end:
            self.batch()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "reach_spark", "pipeline.py")):
        print("perfbench: run from a checkout that holds reach_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import reach_spark from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from bench import _calibrate, _read_steal
    from procs import RssSampler, process_age_s, start_spark, stop_spark

    wl = WORKLOADS[args.workload].scaled(args.scale)
    state = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(state, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    phases = {}
    try:
        with RssSampler() as rss:
            spark = start_spark(work)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = process_age_s()
            bench = Bench(spark, args.workload, wl, args.seed, work)
            log = DigestLog(os.path.join(state, "triples_digests.json"),
                            f"{code_version()}:{args.workload}:{args.seed}:"
                            f"{wl!r}")
            bench.earlier = log.get()
            costs = bench.setup()
            setup_s = session_s + costs["kb_load_s"] + costs["warmup_s"]
            phases["setup"] = process_age_s()
            bench.prepare()
            phases["prepare"] = process_age_s()
            cal = _calibrate(1_000_000)
            tot0, st0 = _read_steal()
            bench.measure(args.seconds)
            tot1, st1 = _read_steal()
            phases["measure"] = process_age_s()
            if args.trace and bench.walls:
                from layers import traced_metrics
                metrics, traced_ok = traced_metrics(
                    bench, session_s, costs,
                    os.path.join(state, "traces"))
                phases["trace"] = process_age_s()
        probes = {"steal_pct": 100 * (st1 - st0) / max(tot1 - tot0, 1e-9),
                  "calibration_mhash_per_s": cal}
    finally:
        if spark is not None:
            stop_spark()
        phases["jvm_stopped"] = process_age_s()
        shutil.rmtree(work, ignore_errors=True)
    phases["stopped"] = process_age_s()
    if bench.failed == 0 and bench.earlier is None:
        log.put(bench.reference["triples"])

    batch_s = statistics.median(bench.walls) if bench.walls else 0.0
    bench.record.update(probes, workload=args.workload, seed=args.seed,
                        batches=len(bench.walls), batch_walls_s=bench.walls,
                        process_age_at_s=phases,
                        failed_run_frac={
                            "value": bench.failed / bench.attempted,
                            "unit": "1"})
    print(json.dumps({"record": bench.record}))
    if args.trace and bench.walls:
        metrics["probe.steal_pct"] = (probes["steal_pct"], "%")
        metrics["probe.calibration_mhash_per_s"] = (
            probes["calibration_mhash_per_s"], "Mhash/s")
    elif args.trace:
        metrics, traced_ok = {}, False
    else:
        traced_ok = True
        metrics = {
            "batch_s": (batch_s, "s"),
            "docs_per_s": (bench.docs_processed / batch_s if batch_s else 0,
                           "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        }
    ok = bench.failed == 0 and traced_ok
    print(json.dumps({
        "correct": ok, "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
