"""Tracing from outside the engine: spans, Spark status-store folds, a
staged-pipeline subclass that attributes every stage, a phase split of a
real maintenance tick, a single-process replay of the fused NLP kernel,
and a process-tree RSS sampler.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

import numpy as np
import pandas as pd
from py4j.protocol import Py4JJavaError

from ner_spark.nlp import vectorized as V
from ner_spark.nlp.model import build_model
from ner_spark.plans.kg import KGPipeline

MB = float(1 << 20)
KERNEL_LAYERS = (
    "tokenize", "token_attrs", "gaz_tag", "emissions", "viterbi", "decode", "ctx_emb",
)
KERNEL_BATCH = 4096  # spark.sql.execution.arrow.maxRecordsPerBatch of the session


class Tracer:
    """In-memory spans: (name, start, end, parent, trace id, attributes)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    def span(self, name, start, end, parent=None, trace_id=None, **attrs) -> None:
        self.spans.append({
            "name": name, "start_s": start - self._t0, "end_s": end - self._t0,
            "parent": parent, "trace_id": trace_id, **attrs,
        })

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def fold_group(sc, group: str) -> dict:
    """Totals of every stage run under a job group, read from the live
    status store. Call it right after the group's jobs end: the store keeps
    only ``spark.ui.retainedStages`` stages."""
    # the store is fed by the asynchronous listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    return fold_jobs(sc, jobs)


def fold_jobs(sc, jobs) -> dict:
    """Totals of every stage of the given jobs: executor run time (busy),
    shuffle write, memory spilled, input records (rows read from files and
    from cached or checkpointed blocks), and the max/median task time of the
    busiest stage (skew)."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "busy_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
           "input_rows": 0, "task_skew": 1.0}
    widest = None
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage never ran, or already evicted
            continue
        run_ms = sd.executorRunTime()
        out["busy_s"] += run_ms / 1000.0
        out["shuffle_mb"] += sd.shuffleWriteBytes() / MB
        out["spill_mb"] += sd.memoryBytesSpilled() / MB
        out["input_rows"] += sd.inputRecords()
        if sd.numCompleteTasks() > 0 and (widest is None or run_ms > widest[0]):
            widest = (run_ms, sid, sd.attemptId())
    if widest is not None:
        out["task_skew"] = _task_skew(sc, store, widest[1], widest[2])
    return out


def _sql_executions(spark):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        yield it.next()


def last_sql_execution(spark) -> int:
    """Id of the newest SQL execution so far (-1 before the first)."""
    return max((x.executionId() for x in _sql_executions(spark)), default=-1)


def fold_tick(spark, source_loc: str, start_epoch: float, end_epoch: float, after: int) -> dict:
    """Split one maintenance tick, run between ``start_epoch`` and
    ``end_epoch`` (wall clock) after SQL execution ``after``, into its two
    phases, from the SQL status store alone.

    The delta phase (reading the tick's source rows, NLP, linking and the
    derived-table commits) ends when the last SQL execution whose plan scans
    the source table ends; everything after it is the global refresh. Each
    phase is folded over the jobs of its executions."""
    src = "file:" + os.path.abspath(source_loc) + "/"
    execs = []
    for x in _sql_executions(spark):
        if x.executionId() <= after:
            continue
        jobs, it = [], x.jobs().keys().iterator()
        while it.hasNext():
            jobs.append(it.next())
        end = x.completionTime()
        end_ms = end.get().getTime() if end.isDefined() else x.submissionTime()
        execs.append((x.executionId(), end_ms, src in x.physicalPlanDescription(), jobs))
    execs.sort()
    last = max((i for i, e in enumerate(execs) if e[2]), default=-1)
    split = max(start_epoch, execs[last][1] / 1000.0) if last >= 0 else start_epoch
    sc = spark.sparkContext
    delta = fold_jobs(sc, [j for e in execs[: last + 1] for j in e[3]])
    refresh = fold_jobs(sc, [j for e in execs[last + 1 :] for j in e[3]])
    return {"delta_s": split - start_epoch, "refresh_s": end_epoch - split,
            "delta": delta, "refresh": refresh}


def _task_skew(sc, store, stage_id: int, attempt: int) -> float:
    """max / median task run time of one stage."""
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    opt = store.taskSummary(stage_id, attempt, q)
    if not opt.isDefined():
        return 1.0
    rt = opt.get().executorRunTime()
    med, mx = float(rt.apply(0)), float(rt.apply(1))
    return mx / med if med > 0 else 1.0


class TracedKGPipeline(KGPipeline):
    """KGPipeline whose stages run under their own job group and are folded
    from the status store as soon as they end; a stage's wall is the
    pipeline's own ``stage_secs``. The time ``run`` spends outside stages
    and the lineage wait is ``unstaged``; the share before the first stage
    is the partitioning profile pass."""

    def __init__(self, *args, tracer: Tracer, trace_id: str, **kw):
        super().__init__(*args, **kw)
        self.tracer = tracer
        self.trace_id = trace_id
        self.stats: dict[str, dict] = {}
        self.profile_s = 0.0
        self.unstaged_s = 0.0
        self.lineage_wait_s = 0.0

    def run(self, transcripts):
        self._t_run = self._t_mark = time.perf_counter()
        out = super().run(transcripts)
        end = time.perf_counter()
        self.unstaged_s += end - self._t_mark
        self.tracer.span("plans.run", self._t_run, end, trace_id=self.trace_id)
        return out

    def _stage(self, name, build, partition_by=None):
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        if not self.stats:
            self.profile_s = t0 - self._t_mark
        self.unstaged_s += t0 - self._t_mark
        group = f"perfbench-{self.run_id}-{name}-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, name)
        try:
            out = super()._stage(name, build, partition_by)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        t1 = time.perf_counter()
        self.stats[name] = {"wall_s": self.stage_secs[name], **fold_group(sc, group)}
        self._t_mark = time.perf_counter()
        self.tracer.span(name, t0, t1, parent="plans.run", trace_id=self.trace_id,
                         **self.stats[name])
        return out

    def _join_lineage(self):
        t0 = time.perf_counter()
        self.unstaged_s += t0 - self._t_mark
        super()._join_lineage()
        self._t_mark = time.perf_counter()
        self.lineage_wait_s = self._t_mark - t0
        self.tracer.span("plans.lineage_wait", t0, self._t_mark, parent="plans.run",
                         trace_id=self.trace_id)


def replay_kernel(texts: np.ndarray, gaz_pdf: pd.DataFrame) -> dict:
    """Single-process replay of ``nlp.vectorized.nlp_batch``, layer by layer,
    on 4096-turn batches. Returns seconds per layer plus the mention count,
    which must equal the distributed stage's rows."""
    gaz = V.GazMatcher(gaz_pdf)
    m = build_model()
    WT, T, start = np.ascontiguousarray(m["W"].T), m["T"], m["start"]
    acc = dict.fromkeys(KERNEL_LAYERS, 0.0)
    n_mentions = 0
    pc = time.perf_counter
    for i in range(0, len(texts), KERNEL_BATCH):
        batch = texts[i : i + KERNEL_BATCH]
        t0 = pc()
        tok = V.tokenize_batch(batch)
        t1 = pc()
        acc["tokenize"] += t1 - t0
        if len(tok["row"]) == 0:
            continue
        inv, uniq = pd.factorize(tok["text"], use_na_sentinel=False)
        inv = inv.astype(np.int64, copy=False)
        attrs = V.unique_token_attrs(np.asarray(uniq, dtype=object))
        h_lower = attrs["h_lower"][inv]
        t2 = pc()
        g_code, g_isb = V.gaz_tag_batch(tok, h_lower, gaz)
        t3 = pc()
        em = V.emissions_for_batch(tok, attrs, inv, g_code, g_isb, WT)
        t4 = pc()
        labels = V.viterbi_batch(em, tok["sent"], T, start)
        t5 = pc()
        men = V.decode_mentions(tok, labels, em, batch)
        t6 = pc()
        ctx = V.ctx_embeddings(tok, h_lower)[men.pop("tok_sent")]
        t7 = pc()
        n_mentions += len(ctx)
        for k, a, b in zip(KERNEL_LAYERS[1:], (t1, t2, t3, t4, t5, t6), (t2, t3, t4, t5, t6, t7)):
            acc[k] += b - a
    return {"layers_s": acc, "mentions": n_mentions}


class RssSampler:
    """Peak resident set of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid(), self.PAGE))


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_rss_mb(root: int, page: int) -> float:
    pages = 0
    for p in [root, *descendants(root)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                pages += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return pages * page / MB
