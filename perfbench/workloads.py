"""The benchmark workloads. Each drives the engine from outside, through its
public functions only, on inputs generated from the workload seed.

flagship_images
    ``engine.validate_table(SPEC_IMAGES)`` with all six passes over a
    generated image table (no bytes), P5 on a sampled slice of a separate
    bytes table, violations and stats sunk to ``noop`` and the verdict
    matrix collected and checked. Why: the fused scan and P1-P6 do nearly
    all of the work; the job layer, parquet sinks and manifest do none.
job_resume_bytes
    A fresh ``job.run --check-headers`` with dims and a drift baseline over
    a bytes table partitioned by ``part_id``, writing real parquet sinks and
    a manifest; then the simulated kill (manifest seeded with half of the
    partitions, their violation and stats cells copied) and ``--resume``.
    One iteration is all three; the resume alone is the per-layer
    ``job.resume_s``.
    Why: the same engine used differently; it reads the binary column of
    every row, writes and re-reads partitioned sinks, and resumes.

The seed reaches the engine only through generated inputs: it picks the
partition that carries the drift plant (``FixtureConfig.drift_part``) and,
for P5, the sample seed. Only DRIFT_VARIANTS distinct tables exist per
workload, so a checkout generates each at most once.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from jsonschema_spark import fixtures as FX
from jsonschema_spark import job
from jsonschema_spark.compile_spark import compile_table
from jsonschema_spark.engine import validate_table
from jsonschema_spark.manifest import Manifest
from jsonschema_spark.passes import drift as P4
from jsonschema_spark.passes import referential as P3
from jsonschema_spark.passes import stats as P1
from jsonschema_spark.passes import uniqueness as P2
from jsonschema_spark.passes.anomaly import anomaly_flags, partition_profile
from jsonschema_spark.passes.fidelity import fidelity_violations, sampled_slice
from jsonschema_spark.passes.headers import header_violations
from jsonschema_spark.spec import parse

import oracles

DRIFT_VARIANTS = 4
VIOLATION_COLS = ("pass_id", "part_id", "row_key", "keyword", "path", "value")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_batches(batches):
    """mapInPandas body that returns its input: what remains of P5 is the
    Arrow transfer to and from the Python worker."""
    yield from batches


def cached(cache_dir: str, key: str, build) -> str:
    """Path of the cached input ``key``, built by ``build(path)`` on first
    use. Builds go to a private directory that is renamed into place, so a
    killed build never leaves a half-written input behind."""
    path = os.path.join(cache_dir, key)
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.rename(tmp, path)
    return path


def _verdict_rows(df) -> list[tuple]:
    return [tuple(r) for r in df.select(*oracles.Verdict._fields).collect()]


class Workload:
    """Inputs are (key, cache name, build) triples from ``_inputs``."""

    def _inputs(self) -> list:
        raise NotImplementedError

    def missing(self) -> bool:
        return any(not os.path.exists(os.path.join(self.cache_dir, name))
                   for _, name, _ in self._inputs())

    def prepare(self) -> None:
        self.paths = {key: cached(self.cache_dir, name, build)
                      for key, name, build in self._inputs()}


class FlagshipImages(Workload):
    name = "flagship_images"
    N, N_PARTS = 40_000, 16
    N_FID, FID_PARTS = 2_000, 16
    FID_PARTS_FRACTION = 0.25

    def __init__(self, spark, seed: int, cache_dir: str, work_dir: str) -> None:
        self.spark, self.seed = spark, seed
        self.cache_dir, self.work_dir = cache_dir, work_dir
        self.cfg = FX.FixtureConfig(n=self.N, n_parts=self.N_PARTS,
                                    with_bytes=False,
                                    drift_part=seed % DRIFT_VARIANTS)
        self.fcfg = FX.FixtureConfig(n=self.N_FID, n_parts=self.FID_PARTS,
                                     with_bytes=True)
        # P5 samples 0.1% of the flagship's rows from the bytes table
        self.fid_fraction = min(1.0, 0.001 * self.N / self.N_FID)

    def _inputs(self) -> list:
        cfg = self.cfg
        clean = FX.FixtureConfig(n=cfg.n, n_parts=cfg.n_parts, plants=False,
                                 with_bytes=False, drift_part=-1)
        return [
            ("fact", f"images_n{cfg.n}_p{cfg.n_parts}_d{cfg.drift_part}",
             lambda p: FX.generate_images_df(self.spark, cfg).write.parquet(p)),
            ("baseline", f"baseline_n{cfg.n}_p{cfg.n_parts}",
             lambda p: P4.baseline_profile(FX.generate_images_df(self.spark, clean),
                                           FX.drift_columns()).write.parquet(p)),
            ("fid", f"images_bytes_n{self.fcfg.n}_p{self.fcfg.n_parts}",
             lambda p: FX.write_images(self.spark, self.fcfg, p)),
        ]

    def load(self) -> None:
        read = self.spark.read.parquet
        self.fact = read(self.paths["fact"])
        self.baseline = read(self.paths["baseline"])
        self.fid = read(self.paths["fid"])
        self.dims = {"dim_fmt": FX.dim_fmt_df(self.spark),
                     "dim_license": FX.dim_license_df(self.spark, self.cfg)}

    def _fidelity(self, _fact=None):
        return fidelity_violations(
            self.fid, self.fcfg, fraction=self.fid_fraction, seed=self.seed,
            parts_fraction=self.FID_PARTS_FRACTION)

    def iteration(self, tr) -> dict:
        with tr.span("iteration"):
            t0 = time.time()
            with tr.span("engine.plan"):
                res = validate_table(
                    self.fact, FX.SPEC_IMAGES, dims=self.dims,
                    baseline=self.baseline, drift_columns=FX.drift_columns(),
                    fidelity_fn=self._fidelity)
            t1 = time.time()
            # independent DAGs, submitted together as bench.py does; the
            # verdict matrix is collected because it is checked
            with tr.span("engine.exec"), ThreadPoolExecutor(3) as ex:
                try:
                    sinks = [ex.submit(noop, df)
                             for df in (res.violations, res.stats)
                             if df is not None]
                    verdicts = ex.submit(_verdict_rows, res.verdicts)
                    for f in sinks:
                        f.result()
                    rows = verdicts.result()
                finally:
                    res.cleanup()
            t2 = time.time()
        return {"wall": t2 - t0, "plan_s": t1 - t0, "exec_s": t2 - t1,
                "rows": self.cfg.n,
                "problems": oracles.check_verdicts(rows, self.cfg)}

    def probes(self, tr) -> None:
        """Each layer's public function run standalone on the flagship
        inputs, one span each."""
        fact, spec = self.fact, parse(FX.SPEC_IMAGES)
        with tr.span("spec.compile"):
            compiled = compile_table(parse(FX.SPEC_IMAGES), fact.schema)
        narrow = [f.name for f in fact.schema.fields
                  if f.dataType.typeName() != "binary"]
        with tr.span("pass.scan"):
            noop(fact.select(*narrow, compiled.violations_array().alias("v")))
        with tr.span("pass.rows"):
            noop(P1.row_violations(fact, compiled, key_col="image_id"))
        with tr.span("pass.stats"):
            noop(P1.column_stats(fact, [c for c in compiled.columns
                                        if c in narrow]))
        with tr.span("pass.unique"):
            for keys in spec.table_checks.unique:
                noop(P2.uniqueness_violations(fact, list(keys), key_col="image_id"))
        with tr.span("pass.refs"):
            for ref in spec.table_checks.references:
                noop(P3.referential_violations(
                    fact, self.dims[ref["dim"]], fact_key=ref["column"],
                    dim_key=ref["key"], key_col="image_id",
                    strategy=ref.get("strategy", "broadcast"),
                    dim_name=ref["dim"]))
        with tr.span("pass.drift"):
            noop(P4.drift_metrics(
                P4.observed_histograms(fact, FX.drift_columns()), self.baseline))
        with tr.span("pass.anomaly"):
            acfg = spec.table_checks.anomaly
            noop(anomaly_flags(partition_profile(fact, acfg["columns"]),
                               acfg["z_max"]))
        with tr.span("pass.fidelity"):
            noop(self._fidelity())
        with tr.span("pass.fidelity_arrow"):
            noop(sampled_slice(self.fid, self.fid_fraction, self.seed, "part_id",
                               self.FID_PARTS_FRACTION)
                 .mapInPandas(identity_batches, schema=self.fid.schema))


class JobResumeBytes(Workload):
    name = "job_resume_bytes"
    N, N_PARTS = 2_000, 4
    DONE_PARTS = (0, 1)

    def __init__(self, spark, seed: int, cache_dir: str, work_dir: str) -> None:
        self.spark, self.seed = spark, seed
        self.cache_dir, self.work_dir = cache_dir, work_dir
        self.cfg = FX.FixtureConfig(n=self.N, n_parts=self.N_PARTS,
                                    with_bytes=True,
                                    drift_part=seed % DRIFT_VARIANTS)
        self.n_iter = 0

    def _inputs(self) -> list:
        cfg = self.cfg
        clean = FX.FixtureConfig(n=cfg.n, n_parts=cfg.n_parts, plants=False,
                                 with_bytes=False, drift_part=-1)

        def spec_file(p: str) -> None:
            os.makedirs(p)
            with open(os.path.join(p, "spec.json"), "w") as f:
                json.dump(FX.SPEC_IMAGES, f)

        return [
            ("table", f"job_images_bytes_n{cfg.n}_p{cfg.n_parts}_d{cfg.drift_part}",
             lambda p: FX.write_images(self.spark, cfg, p)),
            ("dim_fmt", "job_dim_fmt",
             lambda p: FX.dim_fmt_df(self.spark).write.parquet(p)),
            ("dim_license", f"job_dim_license_n{cfg.n}",
             lambda p: FX.dim_license_df(self.spark, cfg).write.parquet(p)),
            ("baseline", f"job_baseline_n{cfg.n}_p{cfg.n_parts}",
             lambda p: P4.baseline_profile(FX.generate_images_df(self.spark, clean),
                                           FX.drift_columns()).write.parquet(p)),
            ("spec", "job_spec", spec_file),
        ]

    def load(self) -> None:
        self.table = self.spark.read.parquet(self.paths["table"])
        for key in ("dim_fmt", "dim_license", "baseline"):
            self.spark.read.parquet(self.paths[key])

    def _run(self, man: str, out: str, resume: bool) -> dict:
        p = self.paths
        argv = ["--table", p["table"], "--spec", os.path.join(p["spec"], "spec.json"),
                "--manifest", man, "--out", out,
                "--dim", f"dim_fmt={p['dim_fmt']}",
                "--dim", f"dim_license={p['dim_license']}",
                "--baseline", p["baseline"], "--check-headers"]
        if resume:
            argv.append("--resume")
        with contextlib.redirect_stdout(io.StringIO()):  # its summary line
            return job.run(argv, spark=self.spark)

    def _seed_kill(self, w: str, tr) -> None:
        """The state a run killed after the DONE_PARTS leaves behind."""
        with tr.span("manifest.record"):
            Manifest(self.spark, f"{w}/man_half").record(
                [{"part_id": p, "pass_id": "full", "status": "done",
                  "n_rows": 0, "n_violations": 0, "wall_ms": 0.0}
                 for p in self.DONE_PARTS])
        # the done partitions' violation and stats files, as the killed run
        # left them
        with tr.span("job.copy_cells"):
            cells = [d for p in self.DONE_PARTS
                     for d in (glob.glob(f"{w}/out_full/violations/pass_id=*/part_id={p}")
                               + [f"{w}/out_full/stats/part_id={p}"])]
            for d in cells:
                shutil.copytree(d, d.replace("/out_full/", "/out_half/"))

    def iteration(self, tr) -> dict:
        self.n_iter += 1
        w = self.last_dir = os.path.join(self.work_dir, f"job{self.n_iter}")
        with tr.span("iteration"):
            t0 = time.time()
            with tr.span("job.fresh"):
                fresh = self._run(f"{w}/man_full", f"{w}/out_full", False)
            t1 = time.time()
            self._seed_kill(w, tr)
            t2 = time.time()
            with tr.span("job.resume"):
                resumed = self._run(f"{w}/man_half", f"{w}/out_half", True)
            t3 = time.time()
        read = self.spark.read.parquet
        a = [tuple(r) for r in read(f"{w}/out_full/violations")
             .select(*VIOLATION_COLS).collect()]
        b = [tuple(r) for r in read(f"{w}/out_half/violations")
             .select(*VIOLATION_COLS).collect()]
        done = set(Manifest(self.spark, f"{w}/man_half").completed_parts("full"))
        problems = (
            oracles.check_resume(a, b)
            + oracles.check_summaries(fresh, resumed, self.cfg.n,
                                      self.cfg.n_parts, len(self.DONE_PARTS), done)
            + oracles.check_verdicts(_verdict_rows(read(f"{w}/out_full/verdicts")),
                                     self.cfg))
        files = [os.path.join(d, f) for d, _, fs in os.walk(f"{w}/out_full")
                 for f in fs if f.endswith(".parquet")]
        # the iteration is the whole story a user lives through: the run,
        # the kill and the resume; its rows are those both runs validated
        return {"wall": t3 - t0, "fresh_s": t1 - t0, "resume_s": t3 - t2,
                "rows": fresh.get("n_rows", 0) + resumed.get("n_rows", 0),
                "problems": problems,
                "sink_files": len(files),
                "sink_bytes": sum(os.path.getsize(f) for f in files)}

    def probes(self, tr) -> None:
        with tr.span("spec.compile"):
            compile_table(parse(FX.SPEC_IMAGES), self.table.schema)
        with tr.span("manifest.filter_pending"):
            Manifest(self.spark, f"{self.last_dir}/man_half").filter_pending(
                self.table, "full")
        with tr.span("pass.headers"):
            noop(header_violations(self.table))


WORKLOADS = {w.name: w for w in (FlagshipImages, JobResumeBytes)}
