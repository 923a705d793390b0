"""The two workloads. Each runs a closed loop with one job in flight: set
up (the cold first build or tick and the warm-up included), repeat its
cycle while another one fits in the run length, then check outputs. Times
are wall seconds of one call into the engine's public API; everything else
(digests, input commits, checks) runs between the timed spans.

Both report the same end-to-end metrics, mapped onto each workload's own
operations (see README.md):

============  =======================================  ==========================================
metric        kg_build                                 kg_ticks
============  =======================================  ==========================================
update_s      one full ``build_kg(resume=False)``      one append tick, entities consumed
turns_per_s   base turns / update_s                    appended turns / update_s
resume_s      read-back rerun, triples+entities read   read-back of the maintained mentions+links
repair_s      rerun after the last stage was lost      CDC repair tick (MOR upsert + erasure)
============  =======================================  ==========================================
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from statistics import median

import pandas as pd
from pyspark.sql import functions as F

from ner_spark.iceberg.spark_io import (
    delete_iceberg_where,
    merge_upsert_iceberg_mor,
    read_iceberg,
    write_iceberg,
)
from ner_spark.iceberg.table import IcebergLocalTable
from ner_spark.nlp.stage import detect_mentions
from ner_spark.operators.linking import gazetteer_norm, link_mentions
from ner_spark.operators.partitioning import profile_hot_keys
from ner_spark.plans.incremental import incremental_kg_update
from ner_spark.plans.kg import build_kg

from perfbench import checks
from perfbench.inputs import BASE_CONVS, Inputs
from perfbench.trace import (
    RssSampler,
    TracedKGPipeline,
    fold_tick,
    last_sql_execution,
    replay_kernel,
)

pc = time.perf_counter
MIN_CYCLES = 2
READ_BACKS = 3


class CheckFailed(Exception):
    pass


class Run:
    """State shared by a workload run: session, inputs, scratch space,
    counters and the optional tracer."""

    def __init__(self, spark, workload, seed, seconds, work, n_partitions, tracer, t_start):
        self.spark = spark
        self.seconds = seconds
        self.work = work
        self.n_partitions = n_partitions
        self.tracer = tracer
        self.t_start = t_start
        self.attempted = 0
        self.failures: list[str] = []
        self.peak_rss_mb = None
        self.measure_s = None
        self.steal_share = None
        # a trace run traces one of its first two measured cycles and keeps
        # the other as the untraced reference; the order alternates with the
        # seed so that residual warm-up is not counted as tracing cost
        self.traced_cycle = seed % 2 if tracer is not None else None
        self._n = 0
        t0 = pc()
        self.inputs = Inputs(seed, BASE_CONVS[workload])
        self.gen_s = pc() - t0
        self.emb = spark.read.parquet(self.parquet("embeddings", self.inputs.embeddings))

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def parquet(self, name: str, pdf: pd.DataFrame) -> str:
        p = self.path(name) + ".parquet"
        pdf.to_parquet(p, index=False)
        return p

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)
            raise CheckFailed(what)

    def attempt(self, fn, *args):
        """One counted operation: a failure is recorded and re-raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except CheckFailed:
            raise
        except Exception as e:
            self.failures.append(f"{fn.__name__}: {type(e).__name__}: {e}")
            raise

    def loop(self, cycle) -> None:
        """Repeat ``cycle`` while another one of average length fits in the
        run length, at least ``MIN_CYCLES`` times, so that every metric is a
        median over several samples (and a trace run has its traced and its
        untraced cycle). A trace run samples peak RSS over these cycles only."""
        t0, cpu0 = pc(), _cpu_ticks()
        i = 0
        with RssSampler() if self.tracer else contextlib.nullcontext() as rss:
            while i < MIN_CYCLES or (pc() - t0) * (i + 1) / i <= self.seconds:
                cycle(i)
                i += 1
        self.measure_s = pc() - t0
        # the share of the machine's CPU time the hypervisor gave to other
        # guests while the cycles ran: a slow run with a high share was slowed
        # by the host, not by the program
        cpu1 = _cpu_ticks()
        self.steal_share = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        self.peak_rss_mb = rss.peak_mb if rss else None

    def traced(self, i: int) -> bool:
        return i == self.traced_cycle

    def untraced_reference(self, i: int) -> bool:
        return self.tracer is not None and i == 1 - self.traced_cycle


def _force_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def _rounded(walls: dict) -> dict:
    """The run's timed samples, for the info line."""
    return {k: [round(v, 3) for v in vs] for k, vs in walls.items()}


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------
def kg_build(run: Run) -> dict:
    spark, inp = run.spark, run.inputs
    tx_path = run.parquet("transcripts", inp.base)
    tx = spark.read.parquet(tx_path)
    n_turns = len(inp.base)
    gaz, emb = inp.gazetteer, run.emb

    def build(wh, resume, traced):
        if not traced:
            return build_kg(spark, tx, gaz, emb, warehouse=wh, run_id="bench",
                            resume=resume, n_partitions=run.n_partitions), None
        p = TracedKGPipeline(spark, gaz, emb, wh, "bench", resume, run.n_partitions,
                             tracer=run.tracer, trace_id=f"build-{resume}")
        return p.run(tx), p

    ref = {}
    walls = {"update": [], "resume": [], "repair": []}
    traced = {}

    def digests(out):
        return checks.digest(out["triples"]), checks.digest(out["entities"])

    def resume(wh, tr):
        o, rp = build(wh, True, tr)
        return digests(o), rp

    def recover(wh):
        # a crash lost the last stage's output; the rerun reads the rest back
        shutil.rmtree(os.path.join(wh, "entities"))
        o, _ = build(wh, True, False)
        return digests(o)

    def cycle(i, warm=False):
        tr = not warm and run.traced(i)
        wh = run.path("wh")
        t0 = pc()
        out, p = run.attempt(build, wh, False, tr)
        wall = pc() - t0
        got = digests(out)
        ref.setdefault("digest", got)
        run.check(got == ref["digest"], f"build digest differs in cycle {i}")
        t0 = pc()
        got, rp = run.attempt(resume, wh, tr)
        rwall = pc() - t0
        run.check(got == ref["digest"], f"resume digest differs in cycle {i}")
        if warm:
            ref["wh"], ref["out"] = wh, out
            return
        t0 = pc()
        got = run.attempt(recover, wh)
        pwall = pc() - t0
        run.check(got == ref["digest"], f"recovery digest differs in cycle {i}")
        shutil.rmtree(wh)
        if tr:
            traced.update(build=p, resume=rp, wall=wall)
        elif run.untraced_reference(i):
            traced["untraced_wall"] = wall
        walls["update"].append(wall)
        walls["resume"].append(rwall)
        walls["repair"].append(pwall)

    # one warm build: at benchmark size on 4 cores a fresh session's builds
    # took 21.1, 10.5, 9.5, 9.4, 8.6 s, so the first timed build (the
    # second) still sits above the settled time; a second warm build does
    # not fit the benchmark's time budget (README.md)
    cycle(0, warm=True)
    setup_s = pc() - run.t_start
    run.loop(cycle)

    # checks, outside the timed spans, on the warm-up build (every later
    # build, resume and recovery matched its digest)
    out = ref["out"]
    prec, rec = checks.oracle_sample_pr(inp.base, inp.hot_convs, gaz, inp.embeddings,
                                        out["triples"], out["canon"], inp.seed)
    run.check(prec >= checks.MIN_PR and rec >= checks.MIN_PR,
              f"triple P/R {prec:.4f}/{rec:.4f} below {checks.MIN_PR}")
    run.check(checks.canon_matches_union_find(out["links"], out["edges"], out["canon"]),
              "connected components differ from union-find")
    n_mentions, n_links = out["mentions"].count(), out["links"].count()
    info = {"turns": n_turns, "mentions": n_mentions, "links": n_links,
            "hot_turn_share": round(inp.hot_turn_share(inp.base), 4),
            "triples": ref["digest"][0][0], "entities": ref["digest"][1][0],
            "triple_precision": prec, "triple_recall": rec,
            "cycles": len(walls["update"]), "samples": _rounded(walls)}
    e2e = {
        "turns_per_s": n_turns / median(walls["update"]),
        "update_s": median(walls["update"]),
        "resume_s": median(walls["resume"]),
        "repair_s": median(walls["repair"]),
        "setup_s": setup_s,
    }
    layers = None
    if run.tracer is not None:
        layers = build_layers(run, traced, tx, inp.base, out, n_mentions, n_links)
        layers.update(incremental_on_build(traced["build"], n_turns))
        layers.update(io_layers_parquet(run, ref["wh"], tx_path))
        layers["trace.traced_update_s"] = traced["wall"]
        layers["trace.untraced_update_s"] = traced["untraced_wall"]
    shutil.rmtree(ref["wh"])
    return {"e2e": e2e, "layers": layers, "info": info}


def build_layers(run, traced, tx, tx_pdf, out, n_mentions, n_links) -> dict:
    """nlp / partitioning / linking / coref / triples / plans metrics of a
    traced staged build and its traced resume."""
    p, rp = traced["build"], traced["resume"]
    st = p.stats
    kern = replay_kernel(tx_pdf["text"].to_numpy(dtype=object), run.inputs.gazetteer)
    run.check(kern["mentions"] == n_mentions,
              f"kernel replay found {kern['mentions']} mentions, stage {n_mentions}")
    kernel_s = sum(kern["layers_s"].values())
    n_edges = out["edges"].count()
    L = {f"nlp.{k}_s": v for k, v in kern["layers_s"].items()}
    L.update({
        "nlp.wall_s": st["mentions"]["wall_s"],
        "nlp.busy_s": st["mentions"]["busy_s"],
        "nlp.task_skew": st["mentions"]["task_skew"],
        "nlp.rows_out": n_mentions,
        "nlp.kernel_turns_per_s": len(tx_pdf) / kernel_s,
        "nlp.boundary_s": st["mentions"]["busy_s"] - kernel_s,
        "partitioning.profile_s": p.profile_s,
        "partitioning.hot_keys": len(profile_hot_keys(tx)),
        "linking.wall_s": st["links"]["wall_s"],
        "linking.busy_s": st["links"]["busy_s"],
        "linking.shuffle_mb": st["links"]["shuffle_mb"],
        "linking.task_skew": st["links"]["task_skew"],
        "linking.links_per_mention": n_links / max(1, n_mentions),
        "coref.edges_wall_s": st["edges"]["wall_s"],
        "coref.cc_wall_s": st["entities_canon"]["wall_s"],
        "coref.cc_jobs": st["entities_canon"]["jobs"],
        "coref.cc_input_edges": n_edges,
        "coref.shuffle_mb": st["edges"]["shuffle_mb"] + st["entities_canon"]["shuffle_mb"],
        "triples.wall_s": st["triples"]["wall_s"],
        "triples.busy_s": st["triples"]["busy_s"],
        "triples.shuffle_mb": st["triples"]["shuffle_mb"],
        "triples.spill_mb": st["triples"]["spill_mb"],
        "triples.task_skew": st["triples"]["task_skew"],
        "triples.rows_out": out["triples"].count(),
        "plans.entities_wall_s": st["entities"]["wall_s"],
        "plans.lineage_wait_s": p.lineage_wait_s,
        "plans.unstaged_s": p.unstaged_s,
        "plans.resume_stage_s": sum(s["wall_s"] for s in rp.stats.values()),
        "trace.coverage": (sum(s["wall_s"] for s in st.values()) + p.unstaged_s
                           + p.lineage_wait_s) / traced["wall"],
    })
    return L


DELTA_STAGES = ("mentions", "links")
REFRESH_STAGES = ("edges", "entities_canon", "entities")


def incremental_on_build(p, n_turns: int) -> dict:
    """A batch build is a tick whose delta is the whole corpus: its two
    halves are the traced build's per-turn stages and its global stages."""
    st = p.stats
    return {
        "incremental.delta_nlp_link_s": sum(st[s]["wall_s"] for s in DELTA_STAGES),
        "incremental.refresh_s": sum(st[s]["wall_s"] for s in REFRESH_STAGES),
        "incremental.refresh_jobs": sum(st[s]["jobs"] for s in REFRESH_STAGES),
        "incremental.cc_input_links": sum(st[s]["input_rows"] for s in REFRESH_STAGES),
        "incremental.delta_rows": n_turns,
        "incremental.repair_keys": 0,
        "incremental.repair_read_rows": 0,
    }


def io_layers_parquet(run: Run, wh: str, tx_path: str) -> dict:
    wh_bytes, wh_files = _du(wh)
    links_dir = os.path.join(wh, "links")
    t0 = pc()
    _force_noop(run.spark.read.parquet(links_dir))
    read_s = pc() - t0
    return {
        "io.bytes_per_input_byte": wh_bytes / os.path.getsize(tx_path),
        "io.files_written": wh_files,
        "io.links_data_files": sum(f.endswith(".parquet") for f in os.listdir(links_dir)),
        "io.links_delete_files": 0,
        "io.commits": sum(os.path.exists(os.path.join(wh, d, "_manifest.json"))
                          for d in os.listdir(wh)),
        "io.read_links_s": read_s,
    }


# ---------------------------------------------------------------------------
# kg_ticks
# ---------------------------------------------------------------------------
def kg_ticks(run: Run) -> dict:
    spark, inp = run.spark, run.inputs
    gaz, emb = inp.gazetteer, run.emb
    src = run.path("transcripts_iceberg")
    wh = run.path("tick_wh")
    current = inp.base.copy()
    erased: list[str] = []
    write_iceberg(spark.read.parquet(run.parquet("base", inp.base)), src,
                  partition_by=["bucket(8, conv_id)"])
    schema = read_iceberg(spark, src).schema

    def commit_rows(pdf: pd.DataFrame, name: str):
        """Input rows as a DataFrame of the source table's schema (a batch
        may hold no non-null value of a column, e.g. ``tool``)."""
        df = spark.read.parquet(run.parquet(name, pdf))
        return df.select([F.col(f.name).cast(f.dataType) for f in schema])

    def tick(expect_rows, what):
        r = incremental_kg_update(spark, src, wh, gaz, emb)
        dg = checks.digest(r["entities"])
        run.check(r["processed_rows"] == expect_rows,
                  f"{what} processed {r['processed_rows']} rows, expected {expect_rows}")
        return r, dg

    def timed_tick(expect_rows, what, traced=False):
        mark = last_sql_execution(spark) if traced else None
        e0, t0 = time.time(), pc()
        r, dg = run.attempt(tick, expect_rows, what)
        t1, e1 = pc(), time.time()
        if traced:
            phases = fold_tick(spark, src, e0, e1, mark)
            state[f"{what}_phases"] = {**phases, "rows": r["processed_rows"]}
            run.tracer.span(f"tick.{what}", t0, t1, trace_id="ticks",
                            delta_s=phases["delta_s"], refresh_s=phases["refresh_s"],
                            **{f"{ph}.{k}": v for ph in ("delta", "refresh")
                               for k, v in phases[ph].items()})
        return r, dg, t1 - t0

    state = {"touched": set()}
    _, state["digest"], _ = timed_tick(len(current), "full")
    walls = {"update": [], "turns_per_s": [], "resume": [], "repair": [], "append_turns": []}
    traced = {}
    n_appends = 0

    def append(tr):
        nonlocal current, n_appends
        batch = inp.append_batch(n_appends)
        n_appends += 1
        write_iceberg(commit_rows(batch, "append"), src, mode="append")
        current = pd.concat([current, batch], ignore_index=True)
        state["touched"].update(batch.conv_id)
        _, dg, wall = timed_tick(len(batch), "append", tr)
        run.check(dg != state["digest"], "append tick left entities unchanged")
        state["digest"] = dg
        return wall, len(batch)

    def repair(tr):
        nonlocal current
        corrected, gone = inp.repair_plan(current)
        merge_upsert_iceberg_mor(spark, src, commit_rows(corrected, "corrected"), key="conv_id")
        for c in gone:
            delete_iceberg_where(spark, src, [("conv_id", "=", c)])
        touched = set(corrected.conv_id) | set(gone)
        current = pd.concat([current[~current.conv_id.isin(touched)], corrected],
                            ignore_index=True)
        erased.extend(gone)
        state["touched"].update(corrected.conv_id)
        r, dg, wall = timed_tick(len(corrected), "repair", tr)
        state.update(digest=dg, repair=r)
        if tr:
            state["repair_phases"]["keys"] = len(touched)
        return wall

    def read_back(r):
        """Consume the maintained mentions and links tables, merge-on-read
        deletes of the repair ticks applied. A read-back takes about half a
        second, so it is repeated; the metric is the median of all the
        run's read-backs."""

        def consume():
            return checks.digest(r["mentions"]), checks.digest(r["links"])

        times, seen = [], set()
        for _ in range(READ_BACKS):
            t0 = pc()
            got = run.attempt(consume)
            times.append(pc() - t0)
            seen.add(got)
        run.check(len(seen) == 1, "repeated read-backs differ")
        state["counts"] = (got[0][0], got[1][0])
        return times

    def cycle(i):
        tr = run.traced(i)
        wall, n = append(tr)
        pwall = repair(tr)
        rwalls = read_back(state["repair"])
        if tr:
            traced["wall"] = wall
        elif run.untraced_reference(i):
            traced["untraced_wall"] = wall
        walls["update"].append(wall)
        walls["turns_per_s"].append(n / wall)
        walls["append_turns"].append(n)
        walls["resume"].extend(rwalls)
        walls["repair"].append(pwall)

    # no warm repair: the full tick already ran NLP, linking and the
    # refresh, and a session's first repair tick measured within the spread
    # of its later ones (9.3 s against 8.1-9.7 s on 4 cores, 1000
    # conversations)
    setup_s = pc() - run.t_start
    run.loop(cycle)

    # checks: erased conversations left nothing behind, and the maintained
    # state is what a batch run would derive from the current transcripts
    cur_tx = read_iceberg(spark, src)
    run.check(cur_tx.count() == len(current), "transcript table lost or gained rows")
    links = state["repair"]["links"]
    for name, df in (("transcripts", cur_tx), ("mentions", state["repair"]["mentions"]),
                     ("links", links)):
        run.check(df.where(F.col("conv_id").isin(erased)).count() == 0,
                  f"erased conversations remain in {name}")
    layers = None
    if run.tracer is None:
        # a batch build costs as much as a timed tick, so an untraced run
        # checks the two halves of the state: the links of every appended or
        # corrected conversation against NLP and linking of its current
        # turns, and the entities against a driver-side rebuild from links
        touched = sorted(state["touched"])
        fresh = commit_rows(current[current.conv_id.isin(touched)], "touched")
        want = link_mentions(detect_mentions(fresh, gaz, spark), gazetteer_norm(spark, gaz), emb)
        run.check(checks.digest(links.where(F.col("conv_id").isin(touched)))
                  == checks.digest(want),
                  "maintained links differ from NLP and linking of the current turns")
        run.check(checks.entities_match_union_find(links, state["repair"]["entities"]),
                  "tick entities differ from a union-find over the maintained links")
    else:
        # a traced run checks the entities against a batch build over the
        # current transcripts; that build is a traced staged build, and gives
        # the per-stage layers of this workload's final state
        cwh = run.path("check_wh")
        pb = TracedKGPipeline(spark, gaz, emb, cwh, "check", False, run.n_partitions,
                              tracer=run.tracer, trace_id="check-build")
        t0 = pc()
        full = pb.run(cur_tx)
        bwall = pc() - t0
        run.check(checks.digest(full["entities"]) == state["digest"],
                  "tick entities differ from a batch build")
        pr = TracedKGPipeline(spark, gaz, emb, cwh, "check", True, run.n_partitions,
                              tracer=run.tracer, trace_id="check-resume")
        pr.run(cur_tx)
        layers = build_layers(run, {"build": pb, "resume": pr, "wall": bwall}, cur_tx,
                              current, full, full["mentions"].count(), full["links"].count())
        layers.update(incremental_on_ticks(state))
        layers.update(io_layers_iceberg(run, wh, src))
        layers["trace.traced_update_s"] = traced["wall"]
        layers["trace.untraced_update_s"] = traced["untraced_wall"]
        shutil.rmtree(cwh)
    n_mentions, n_links = state["counts"]
    info = {"turns": len(current), "mentions": n_mentions, "links": n_links,
            "hot_turn_share": round(inp.hot_turn_share(current), 4),
            "append_turns": median(walls["append_turns"]),
            "repair_convs": inp.repair_convs,
            "entities": state["digest"][0], "erased": len(erased),
            "cycles": len(walls["update"]), "samples": _rounded(walls)}
    e2e = {
        "turns_per_s": median(walls["turns_per_s"]),
        "update_s": median(walls["update"]),
        "resume_s": median(walls["resume"]),
        "repair_s": median(walls["repair"]),
        "setup_s": setup_s,
    }
    return {"e2e": e2e, "layers": layers, "info": info}


def incremental_on_ticks(state: dict) -> dict:
    """The traced append and repair ticks, split into their delta and
    refresh phases from the status store (``trace.fold_tick``)."""
    a, r = state["append_phases"], state["repair_phases"]
    return {
        "incremental.delta_nlp_link_s": a["delta_s"],
        "incremental.refresh_s": a["refresh_s"],
        "incremental.refresh_jobs": a["refresh"]["jobs"],
        "incremental.cc_input_links": a["refresh"]["input_rows"],
        "incremental.delta_rows": a["rows"],
        "incremental.repair_keys": r["keys"],
        "incremental.repair_read_rows": r["delta"]["input_rows"],
    }


def io_layers_iceberg(run: Run, wh: str, src: str) -> dict:
    wh_bytes, wh_files = _du(wh)
    src_bytes, _ = _du(os.path.join(src, "data"))
    t = IcebergLocalTable(f"{wh}/links")
    t0 = pc()
    _force_noop(read_iceberg(run.spark, f"{wh}/links"))
    read_s = pc() - t0
    return {
        "io.bytes_per_input_byte": wh_bytes / src_bytes,
        "io.files_written": wh_files,
        "io.links_data_files": len(t.scan()),
        "io.links_delete_files": len(t.scan_deletes()),
        "io.commits": len(t.snapshots()),
        "io.read_links_s": read_s,
    }


WORKLOADS = {"kg_build": kg_build, "kg_ticks": kg_ticks}
