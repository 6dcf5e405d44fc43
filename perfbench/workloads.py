"""The benchmark's workloads; each run times one graph build through a
public entry point of the engine and checks what it wrote.

  build_bulk   `plans.pipeline.build_and_write` over the standard corpus:
               per-page Python extraction and the write path do the work,
               linking has only a few hundred names.
  resume_half  `tools/run_pipeline.py --checkpoint-dir … --resume` over the
               entity-dense corpus, after half of the committed extract
               buckets were dropped from the manifest with their data left
               on disk: checkpoint repair and append, then entity linking,
               components and the canonical rewrite over thousands of names.

A workload object has `make_inputs`, `reference`, `prepare_op`, `build`
(the timed operation), `linking_map` (the map the build's entity linking
produced) and `extra_checks`; `Run` drives either one.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import random
import shutil
import statistics
import sys

from graphcheck import (canonical_keys, mapping_problems, read_keys,
                        reference_keys, rows_digest)
from harness import (ROOT, WORK, RssSampler, dir_bytes, now,
                     reset_between_ops, tree_cpu_s)

# "full" is the measured size, "tiny" the self-test's
SIZES = {
    "build_bulk": {"full": {"pages": 3000}, "tiny": {"pages": 200}},
    "resume_half": {"full": {"pages": 800, "people": 1600},
                    "tiny": {"pages": 150, "people": 300}},
}
# graph layout for both workloads, sized to corpora of a few thousand pages:
# 8 subject buckets x salt 2 = 16 edge files. The 100 TB defaults (32 x 8)
# write 256 edge files of ~10 KB here, so every build and every lookup
# would time per-file overhead instead of per-page and per-row work.
N_BUCKETS, SALT = 8, 2
SETUP_REPEATS = 3


def _mapping_dict(df) -> dict:
    return {(r["type"], r["id"]): r["canonical_id"] for r in df.collect()}


class BuildBulk:
    name = "build_bulk"

    def __init__(self, spark, size: dict, seed: int):
        self.spark, self.seed = spark, seed
        self.n_pages = size["pages"]
        self.pages_dir = WORK / "pages"
        self.out_dir = WORK / "graph"
        from llm_knowledge_graph_spark.config import PipelineConfig
        self.cfg = PipelineConfig(n_subject_buckets=N_BUCKETS,
                                  hot_subject_salt=SALT)
        self.res = None

    def make_inputs(self) -> None:
        from corpora import write_standard_pages
        write_standard_pages(self.spark, self.n_pages, self.seed,
                             str(self.pages_dir))

    def reference(self) -> dict:
        from llm_knowledge_graph_spark.corpus import make_pages
        from llm_knowledge_graph_spark.reference_impl import reference_pipeline
        return reference_pipeline(make_pages(self.n_pages, self.seed))

    def prepare_op(self) -> None:
        reset_between_ops(self.spark, self.out_dir)

    def build(self) -> None:
        from llm_knowledge_graph_spark.plans.pipeline import build_and_write
        from llm_knowledge_graph_spark.sources.pages import read_pages
        self.res = build_and_write(
            self.spark, read_pages(self.spark, str(self.pages_dir)),
            str(self.out_dir), self.cfg)

    def linking_map(self) -> dict:
        return _mapping_dict(self.res.mapping)

    def extra_checks(self, ref_nodes: set, ref_edges: set) -> dict:
        """The merge-level graph (before linking) equals the reference:
        node P/R and triple P/R = 1.0."""
        got_n = {tuple(r) for r in
                 self.res.nodes.select("type", "id").collect()}
        got_e = {tuple(r) for r in self.res.edges.select(
            "subj", "subj_type", "pred", "obj", "obj_type").collect()}
        return {"merge_nodes_equal_reference": got_n == ref_nodes,
                "merge_triples_equal_reference": got_e == ref_edges}


class _StopBeforeWrite(Exception):
    pass


@contextlib.contextmanager
def _patched(module, attr, make):
    """Temporarily replaces module.attr with make(original)."""
    orig = getattr(module, attr)
    setattr(module, attr, make(orig))
    try:
        yield
    finally:
        setattr(module, attr, orig)


class ResumeHalf:
    name = "resume_half"
    RUN_ID = "run0"

    def __init__(self, spark, size: dict, seed: int):
        self.spark, self.seed = spark, seed
        self.n_pages, self.n_people = size["pages"], size["people"]
        self.pages_dir = WORK / "pages"
        self.out_dir = WORK / "graph"
        self.template_dir = WORK / "ckpt_template"
        self.ckpt_dir = WORK / "ckpt"
        spec = importlib.util.spec_from_file_location(
            "run_pipeline_cli", ROOT / "tools" / "run_pipeline.py")
        self.cli = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.cli)
        self.rows: list = []
        self.torn: list = []

    def make_inputs(self) -> None:
        from corpora import entity_dense_rows, write_entity_dense_pages
        self.rows = entity_dense_rows(self.n_pages, self.n_people, self.seed)
        write_entity_dense_pages(self.rows, str(self.pages_dir))

    def reference(self) -> dict:
        from corpora import check_entity_dense_sample
        from llm_knowledge_graph_spark.reference_impl import reference_pipeline
        if not check_entity_dense_sample(self.rows):
            raise RuntimeError("entity-dense generator wrote sentences the "
                               "extractor does not parse")
        return reference_pipeline(self.rows)

    def _cli(self, out_dir, ckpt_dir, resume: bool) -> str:
        """tools/run_pipeline.py main() in this process and session (its
        closing spark.stop() is suppressed: the session is the run's)."""
        argv = ["run_pipeline.py", "--pages", str(self.pages_dir),
                "--out", str(out_dir), "--checkpoint-dir", str(ckpt_dir),
                "--run-id", self.RUN_ID,
                "--master", self.spark.sparkContext.master,
                "--buckets", str(N_BUCKETS), "--salt", str(SALT)]
        if resume:
            argv.append("--resume")
        saved_argv, sys.argv = sys.argv, argv
        self.spark.stop = lambda: None
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                self.cli.main()
        finally:
            del self.spark.stop
            sys.argv = saved_argv
        return buf.getvalue()

    def _data_dir(self, base):
        return base / self.RUN_ID / "extract" / "data"

    def _manifest(self):
        return self.ckpt_dir / self.RUN_ID / "extract" / "_manifest.json"

    def bucket_dir(self, b: int):
        return self._data_dir(self.ckpt_dir) / f"bucket={b}"

    def make_template(self) -> None:
        """The CLI run over all pages, killed when it is about to write the
        graph: every extract bucket is committed (the checkpoint each op
        restores), and extraction, merge, linking and components have run
        once, so the timed resume does not spend half its time on JIT and
        Python-worker start."""
        from llm_knowledge_graph_spark.operators import materialize

        def stop(_orig):
            def write_graph(*_args, **_kwargs):
                raise _StopBeforeWrite
            return write_graph
        shutil.rmtree(self.template_dir, ignore_errors=True)
        with _patched(materialize, "write_graph", stop):
            try:
                self._cli(WORK / "graph_unused", self.template_dir, False)
            except _StopBeforeWrite:
                pass
        self.template_digest = rows_digest(self._data_dir(self.template_dir))

    def prepare_op(self) -> None:
        """Restore the template, then drop half of the committed extract
        buckets from the manifest and leave their data on disk: the torn
        state a kill between append and commit leaves behind."""
        reset_between_ops(self.spark, self.out_dir, self.ckpt_dir)
        shutil.copytree(self.template_dir, self.ckpt_dir)
        with open(self._manifest()) as f:
            m = json.load(f)
        done = sorted(m["completed"])
        self.torn = sorted(random.Random(f"{self.seed}:tear")
                           .sample(done, len(done) // 2))
        m["completed"] = [b for b in done if b not in self.torn]
        with open(self._manifest(), "w") as f:
            json.dump(m, f)

    def build(self) -> None:
        """The resume; the linking map is kept on its way to the canonical
        rewrite."""
        from llm_knowledge_graph_spark.operators import components

        def capture(orig):
            def canonical_mapping(*args, **kwargs):
                self.mapping = orig(*args, **kwargs)
                return self.mapping
            return canonical_mapping
        with _patched(components, "canonical_mapping", capture):
            self._cli(self.out_dir, self.ckpt_dir, resume=True)

    def linking_map(self) -> dict:
        return _mapping_dict(self.mapping)

    def extra_checks(self, ref_nodes: set, ref_edges: set) -> dict:
        """The resumed checkpoint holds every bucket again, row for row
        what the uninterrupted extract stage wrote."""
        with open(self._manifest()) as f:
            complete = len(json.load(f)["completed"]) == max(8, N_BUCKETS)
        return {"manifest_complete": complete,
                "checkpoint_equals_uninterrupted":
                    rows_digest(self._data_dir(self.ckpt_dir))
                    == self.template_digest}


WORKLOADS = {"build_bulk": BuildBulk, "resume_half": ResumeHalf}


class Run:
    """One benchmark run of one workload: set-up, then the timed build,
    checked against the reference."""

    def __init__(self, spark, workload: str, seed: int, seconds: int,
                 size: str = "full", drop_one_edge: bool = False):
        self.spark = spark
        self.wl = WORKLOADS[workload](spark, SIZES[workload][size], seed)
        self.seed, self.seconds = seed, seconds
        self.drop_one_edge = drop_one_edge
        self.attempted = self.failed = 0
        self.failures: list = []
        self.info: dict = {"builds": []}

    def _check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def setup(self) -> None:
        """Inputs are written SETUP_REPEATS times (setup_s is the median);
        resume_half also makes its checkpoint template once."""
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = now()
            self.wl.make_inputs()
            times.append(now() - t0)
        self.setup_s = statistics.median(times)
        self.info["input_repeats_s"] = times
        if hasattr(self.wl, "make_template"):
            t0 = now()
            self.wl.make_template()
            self.info["template_s"] = now() - t0
            self.setup_s += self.info["template_s"]
        t0 = now()
        self.ref_nodes, self.ref_edges = reference_keys(self.wl.reference())
        self.info["reference_s"] = now() - t0

    def build_once(self, tracer=None, prepare: bool = True) -> float:
        if prepare:
            self.wl.prepare_op()
        t0 = now()
        if tracer is None:
            self.wl.build()
        else:
            with tracer.span("op") as rec:
                self.wl.build()
            self.root_span = rec["id"]
        wall = now() - t0
        self.check_output(self.wl.linking_map())
        self.info["builds"].append({"wall_s": wall, "traced": bool(tracer)})
        return wall

    def check_output(self, mapping: dict) -> None:
        self._check("linking_map_sound",
                    not mapping_problems(mapping, self.ref_nodes))
        self.expected = canonical_keys(self.ref_nodes, self.ref_edges,
                                       mapping)
        nodes, edges = read_keys(self.wl.out_dir, self.drop_one_edge)
        want_n, want_e = self.expected
        self._check("canonical_nodes", len(nodes) == len(want_n)
                    and set(nodes) == want_n)
        self._check("canonical_edges", len(edges) == len(want_e)
                    and set(edges) == want_e)
        for name, ok in self.wl.extra_checks(self.ref_nodes,
                                             self.ref_edges).items():
            self._check(name, ok)
        self.info["graph"] = {"nodes": len(nodes), "edges": len(edges),
                              "linked_aliases": len(mapping)}

    def measure(self) -> dict:
        """End-to-end metrics (tracing off). Builds repeat until `seconds`
        of build time are measured; on this host one cold build already
        takes longer than the 10 s the benchmark asks for."""
        walls = []
        # a full collection first, so the peak does not depend on how much
        # garbage set-up left in the heap
        self.spark.sparkContext._jvm.java.lang.System.gc()
        with RssSampler() as rss:
            cpu0 = tree_cpu_s(os.getpid())
            while sum(walls) < self.seconds or not walls:
                walls.append(self.build_once())
            self.info["build_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            peak = rss.peak_mb
            self.info["peak_rss_parts_mb"] = rss.peak_parts
        return {
            "build_docs_per_s": (
                self.wl.n_pages * len(walls) / sum(walls), "docs/s"),
            "graph_bytes_per_page": (
                dir_bytes(self.wl.out_dir) / self.wl.n_pages, "B/page"),
            "peak_rss_mb": (peak, "MB"),
            "setup_s": (self.setup_s, "s"),
        }
