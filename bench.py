"""Per-round benchmark harness.

Prints ONE JSON line:
    {"metric": "candidate_pairs_scored_per_sec", "value": N, "unit": "pairs/sec",
     "queries": {...per-query seconds...}, "sf": ..., "er": {...},
     "scaling": {...local[8] vs local[32]...}}

Phases:
1. operator queries from __spark_entry__ at $SPARK_GRAFT_SF_DIR (default
   sf0.1) on local[$SPARK_GRAFT_CPUS] — per-query wall seconds (noop write =
   full materialization).
2. ER pipeline bench on the synthetic web-pages corpus: preprocess ->
   blocking -> pairs once, then time the scoring stage; headline value =
   candidate-pairs-scored/sec.
3. scaling evidence (north_rule): the same scoring job at N=2 vs 4N=8 cores,
   efficiency = thr_8 / (4 * thr_2), criterion >= 0.8.

Scaling-measurement design (sandbox realities; round-2 rework):
- ``local[N]`` alone does NOT bound CPU use: the JVM (GC, Arrow serde, task
  threads) and the Python workers together consume well over N cores, which
  silently *deflates* measured scaling (the "2-core" run was really using
  ~4). Each worker subprocess therefore pins its whole process tree with
  ``sched_setaffinity`` to a disjoint set of N CPUs — an honest emulation of
  an N-core executor — chosen as the most-idle CPUs from two /proc/stat
  samples (a co-tenant holds ~9 of the 32 advertised CPUs).
- both workers (2-core and 8-core JVMs, disjoint CPU sets) stay alive with
  the input cached. Each round runs a CONCURRENT pair — both levels timed
  in the same wall-clock window (8-core side does ceil(warm2/warm8) x
  passes so its span COVERS the 2-core span; any unshared tail is 8c-only
  and can only deflate the ratio), so a one-sided co-tenant storm cannot
  fake sublinearity — followed by a cheap solo 8-core rep, plus one solo
  2-core rep at the end (budget permitting) so neighbor-induced 2c
  slowdown cannot inflate the ratio either. Criterion = the lower-median
  pair ratio (window matching makes it robust to one-sided storms in
  BOTH directions; its 8c side carries 4-10% self-contention, quiet-box
  A/B'd, so it reads conservatively low); the sharper sequential
  confirmed-min estimate is disclosed alongside and is the fallback only
  when every pair was rejected — it inflates when storms land on the
  2-core reps but miss the solo 8-core reps.
- the measured job is `passes` scoring Arrow passes over a pre-materialized,
  pre-partitioned, cached distinct-tuples parquet; `passes` is calibrated
  from the 2-core warm-up so the 2-core wall is >= ~45 s (small walls are
  noise-dominated). Identical fixed workload at every core count.
- per-rep CPU-steal deltas from /proc/stat ride along in the JSON so noise
  is attributable.
- 8 -> 32 is reported as an informational second point only (unpinned: the
  co-tenant makes >23 dedicated CPUs physically unavailable).

Usage: python bench.py            # full run, one JSON line on stdout
       python bench.py --scale-worker <cores> <cpu_list> <tuples_dir> <model_json>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_QUERIES = [
    "a1_unique_strings",
    "a10_cluster_stats",
    "w1_topk_per_group",
    "j1_blocking_selfjoin",
    "j2_dim_lookup_join",
    "f3_levenshtein_pairs",
    "f6_interactions",
    "f12_sigmoid_threshold",
    "text_quality",
    "text_langid",
    "text_langid_v2",
    "text_gopher_quality",
    "text_tfidf_top_terms",
    "text_bm25",
    "text_decontaminate",
    "sample_stratified",
    "sessionize",
    "asof_join",
    "range_join",
    "time_rollup",
    "kmv_distinct",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_embedding",
    "ann_bruteforce_topk",
    "cc_components",
]

N_ENTITIES = int(os.environ.get("SPARK_GRAFT_ER_ENTITIES", "4000"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def _pair_passes(warm2, warm8):
    """8-core passes per 2-core pass in a concurrent pair: CEIL of the
    warm-up ratio, so the 8-core span always covers the 2-core span. A
    2c-only tail would let accounting-invisible interference slow only
    the ratio's denominator (inflating it); an 8c-only tail can only
    deflate it."""
    import math

    return max(1, math.ceil(warm2 / max(warm8, 0.5)))


def _lower_median(xs):
    """Median that takes the LOWER-middle element for even counts — the
    conservative pick for a gated lower-bound estimate (upper-middle
    would inflate it)."""
    return sorted(xs)[(len(xs) - 1) // 2]


def _confirmed_min(walls, tol=1.08):
    """Fastest wall that a SECOND wall reproduces within ``tol``.

    The plain min of repeated timings is the standard least-interference
    estimator, but on this co-tenant box a single unrepresentative fast
    window can slip through (r4: one 21.5 s wall in a 25-27 s cluster
    dragged min-based scaling efficiency to exactly the 0.80 gate while
    the median sat at 0.95). Requiring confirmation rejects unreproduced
    outliers in BOTH directions — applied symmetrically to numerator and
    denominator, so it cannot bias the ratio. Falls back to the plain min
    when nothing confirms (e.g. a single wall).
    """
    ws = sorted(walls)
    for i in range(len(ws) - 1):
        if ws[i + 1] <= ws[i] * tol:
            return ws[i]
    return ws[0]


def run_queries(spark, sf_dir):
    import __spark_entry__ as em

    qs = em.queries()
    # warm the JVM + python workers + file index once so the FIRST query's
    # wall is not session startup in disguise
    _noop(qs[BENCH_QUERIES[0]](spark, sf_dir))
    out = {}
    for name in BENCH_QUERIES:
        t0 = time.time()
        _noop(qs[name](spark, sf_dir))
        out[name] = round(time.time() - t0, 3)
        _log(f"query {name}: {out[name]}s")
    # heavy queries get a second rep, min reported with both walls kept:
    # a single co-tenant burst (minutes-long on this box) otherwise writes
    # a 2x-inflated wall into the round's one driver-recorded bench
    rerun = {}
    slow = sorted((n for n, t in out.items() if t > 3.0),
                  key=lambda n: -out[n])[:4]  # bounded: keep total bench time
    for name in slow:
        t0 = time.time()
        _noop(qs[name](spark, sf_dir))
        t2 = round(time.time() - t0, 3)
        rerun[name] = [out[name], t2]
        out[name] = min(out[name], t2)
        _log(f"query {name} rep2: {t2}s -> min {out[name]}s")
    return out, rerun


def build_pair_fields(spark, n_entities, out_dir):
    """records + blocking + candidate pairs + attached fields -> parquet."""
    from pyspark.sql import functions as F  # noqa: N812

    from entity_resolution_pipeline_spark.operators import blocking as B  # noqa: N812
    from entity_resolution_pipeline_spark.operators import pairs as P  # noqa: N812
    from entity_resolution_pipeline_spark.operators.preprocess import preprocess_records
    from entity_resolution_pipeline_spark.sources.webpages import web_pages_df

    timings = {}
    t0 = time.time()
    wp = web_pages_df(spark, n_entities)
    records = preprocess_records(wp)
    records.persist()
    n_pages = records.count()
    timings["preprocess_s"] = round(time.time() - t0, 3)

    # min-of-2 full reps of the ENTIRE stage (keys kernel + pair window +
    # distinct + attach + parquet write, nothing cached across
    # reps): the first rep carries one-off python-worker/numpy first-touch
    # warmup (~0.5 ms/page on this VM, measured 20.6 s cold vs 6.7 s
    # steady at bench scale) that amortizes to nothing over a 100 TB run —
    # steady-state is the scale-relevant wall. Both walls are reported.
    walls = []
    n_over = 0
    for _rep in range(2):
        t0 = time.time()
        keys = B.all_blocking_keys(records).persist()
        keys.count()
        pairs, oversized = B.candidate_pairs(keys, max_block_size=64)
        pair_fields = P.with_pair_key(P.attach_pair_fields(pairs, records))
        pair_fields.write.mode("overwrite").parquet(out_dir)
        walls.append(round(time.time() - t0, 3))
        n_over = oversized.count()
        keys.unpersist()
    timings["blocking_pairs_s"] = min(walls)
    timings["blocking_pairs_walls"] = walls
    records.unpersist()
    return n_pages, timings, n_over


def train_model(spark, n_entities, records=None):
    from entity_resolution_pipeline_spark.plans.pipeline import ERPipeline
    from entity_resolution_pipeline_spark.operators.preprocess import preprocess_records
    from entity_resolution_pipeline_spark.sources.webpages import (
        labeled_pairs_pdf,
        web_pages_df,
    )

    import tempfile

    wh = tempfile.mkdtemp(prefix="bench_wh_")
    pipe = ERPipeline(spark, wh)
    n_lab = min(400, n_entities)
    recs = records if records is not None else preprocess_records(web_pages_df(spark, n_lab))
    lp = spark.createDataFrame(labeled_pairs_pdf(n_lab, 1500))
    model = pipe.train(recs, lp)
    return model


def score_job(spark, pairs_dir, model_dict):
    """Time the full scoring stage as the pipeline runs it (one Arrow pass
    over the pair rows with url passthrough, repartitioned by person at
    scale) — the headline pairs-scored/sec number."""
    from entity_resolution_pipeline_spark.operators import pairs as P  # noqa: N812
    from entity_resolution_pipeline_spark.plans.pipeline import SCORE_REPARTITION_MIN_PAIRS

    pf = spark.read.parquet(pairs_dir)
    n_pairs = pf.count()
    t0 = time.time()
    src = pf.repartition("person1") if n_pairs >= SCORE_REPARTITION_MIN_PAIRS else pf
    _noop(P.score(src, model_dict, passthrough=("url1", "url2")))
    wall = time.time() - t0
    return n_pairs, wall


def score_tuples_job(spark, dt, model_dict):
    """Time ONLY the scoring Arrow pass over pre-deduped cached tuples (the
    scaling-measurement kernel). ``dt`` must already be partitioned,
    persisted AND counted by the caller — small parquet files otherwise
    coalesce into 1-2 scan tasks (maxPartitionBytes), silently serializing
    the kernel at every core count, and a per-pass count() job would bill
    mostly-serial scheduling to the parallel kernel."""
    from entity_resolution_pipeline_spark.operators import pairs as P  # noqa: N812

    t0 = time.time()
    _noop(P.score(dt, model_dict))
    return time.time() - t0


def _cpu_idle_fracs(interval: float = 0.6) -> dict[int, float]:
    """Per-CPU idle fraction from two /proc/stat samples."""
    def snap():
        out = {}
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu") and line[3:4].isdigit():
                    p = line.split()
                    vals = [int(x) for x in p[1:]]
                    idle = vals[3] + vals[4]  # idle + iowait
                    out[int(p[0][3:])] = (idle, sum(vals))
        return out

    a = snap()
    time.sleep(interval)
    b = snap()
    return {
        c: (b[c][0] - a[c][0]) / max(1, b[c][1] - a[c][1])
        for c in a
    }


def _steal_per_cpu() -> dict[int, int]:
    """Per-CPU steal jiffies (field 8 of each cpuN line in /proc/stat)."""
    out = {}
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu") and line[3:4].isdigit():
                p = line.split()
                out[int(p[0][3:])] = int(p[8])
    return out


def _tree_cpu_jiffies(root_pid: int) -> int:
    """utime+stime jiffies of a process AND all descendants (fields 14/15 of
    /proc/<pid>/stat). Used to attribute invisible interference: during a
    pinned rep, our worker tree should consume ~all of the set's cpu-time;
    a low share means an in-VM neighbor or throttling stole the CPUs even
    when hypervisor steal reads zero."""
    children: dict[int, list[int]] = {}
    stats: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().split(") ")[-1].split()
            children.setdefault(int(rest[1]), []).append(int(p))
            stats[int(p)] = int(rest[11]) + int(rest[12])  # utime + stime
        except (OSError, IndexError, ValueError):
            continue
    total, todo, seen = 0, [root_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += stats.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


def _repin_tree(cpus: set[int]) -> None:
    """Re-pin this process AND every descendant, per-thread (a running JVM
    keeps its threads' old affinity unless each tid is re-pinned)."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().split(") ")[-1].split()[1])
            children.setdefault(ppid, []).append(int(p))
        except OSError:
            continue
    todo, seen = [os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    os.sched_setaffinity(int(tid), cpus)
                except OSError:
                    pass
        except OSError:
            pass
        todo.extend(children.get(pid, []))


def scale_worker(cores, cpu_list, tuples_dir, model_path):
    """Pinned measurement worker. Protocol on stdin/stdout:

    emits ``READY <n_tuples> <warmup_wall>`` after caching + one warm-up
    pass; for each ``RUN <passes> [cpu_list]`` line re-pins the whole
    process tree to cpu_list (dodging co-tenant bursts), runs the scoring
    passes and emits ``WALL <seconds>``; exits on ``EXIT``.
    """
    cpus = {int(c) for c in cpu_list.split(",")}
    os.sched_setaffinity(0, cpus)  # inherited by the JVM + python workers

    from entity_resolution_pipeline_spark.session import build_spark

    spark = build_spark(
        app_name=f"bench-scale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=int(cores) * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")
    with open(model_path) as f:
        model_dict = json.load(f)
    # fixed 64-way partitioning at every core count (task granularity must
    # not depend on cores), cached so repeats measure only the kernel
    dt = spark.read.parquet(tuples_dir).repartition(64).persist()
    n = dt.count()  # materializes the cache; counted once, outside timing
    warm = score_tuples_job(spark, dt, model_dict)
    print(f"READY {int(n)} {warm:.3f}", flush=True)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd or cmd[0] == "EXIT":
            break
        passes = int(cmd[1]) if len(cmd) > 1 else 1
        if len(cmd) > 2:
            _repin_tree({int(c) for c in cmd[2].split(",")})
        t0 = time.time()
        for _ in range(passes):
            score_tuples_job(spark, dt, model_dict)
        print(f"WALL {time.time() - t0:.3f}", flush=True)
    spark.stop()


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--scale-worker":
        scale_worker(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])
        return

    from entity_resolution_pipeline_spark.session import build_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")

    t_all = time.time()
    queries, queries_rerun = run_queries(spark, sf_dir)
    _log(f"queries phase: {time.time()-t_all:.1f}s")

    # --- ER scoring throughput (headline) ---
    import tempfile

    pairs_dir = os.path.join(tempfile.mkdtemp(prefix="bench_pairs_"), "pair_fields")
    t0 = time.time()
    n_pages, er_timings, n_over = build_pair_fields(spark, N_ENTITIES, pairs_dir)
    _log(f"build_pair_fields: {time.time()-t0:.1f}s")
    t0 = time.time()
    model = train_model(spark, N_ENTITIES)
    _log(f"train_model: {time.time()-t0:.1f}s")
    model_path = os.path.join(os.path.dirname(pairs_dir), "model.json")
    with open(model_path, "w") as f:
        json.dump(model.to_dict(), f)

    # Converged-min protocol (same idea as the scaling reps): rep until the
    # two fastest walls agree within 8% (max 4 reps), report the CONFIRMED
    # min — a wall only counts as the estimate if a second run reproduced
    # it, so neither a co-tenant burst NOR a one-off lucky window writes
    # the round's headline (r4's driver window caught a slow pair of reps;
    # r3->r4 "regression" was this measurement noise, not the kernel).
    score_walls = []
    n_pairs = 0
    for rep in range(4):
        n_pairs, w = score_job(spark, pairs_dir, model.to_dict())
        score_walls.append(round(w, 3))
        _log(f"score_job rep{rep + 1}: {w:.1f}s ({n_pairs} pairs)")
        lo = sorted(score_walls)[:2]
        if len(lo) == 2 and lo[1] <= lo[0] * 1.08:
            break
    score_wall = _confirmed_min(score_walls)
    headline = n_pairs / score_wall if score_wall > 0 else 0.0
    er = {
        "n_entities": N_ENTITIES,
        "n_pages": int(n_pages),
        "candidate_pairs": int(n_pairs),
        "score_wall_s": round(score_wall, 3),
        "score_walls_s": score_walls,
        "oversized_blocks": int(n_over),
        **er_timings,
    }
    spark.stop()

    # --- scaling: pinned disjoint-CPU workers, interleaved reps (north_rule) ---
    scaling = {}
    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        from entity_resolution_pipeline_spark.session import build_spark as _bs
        from entity_resolution_pipeline_spark.operators import pairs as P  # noqa: N812

        sp2 = _bs(app_name="bench-prep", master="local[32]", shuffle_partitions=32)
        sp2.sparkContext.setLogLevel("ERROR")
        tuples_dir = os.path.join(os.path.dirname(pairs_dir), "distinct_tuples")
        (sp2.read.parquet(pairs_dir)
            .select("pair_key", *P.PAIR_SIDE_COLS)
            .dropDuplicates(["pair_key"])
            .repartition(32)
            .write.mode("overwrite").parquet(tuples_dir))
        sp2.stop()

        # pin each level to the most-idle CPUs; the two levels get DISJOINT
        # sets so an idle-but-alive sibling JVM never contends. Sets are
        # RE-PICKED before every rep (the co-tenant moves around).
        def pick_sets():
            idle = _cpu_idle_fracs(0.4)
            ranked = [c for c, _ in sorted(idle.items(), key=lambda kv: -kv[1])]
            # the 2-core worker (the DENOMINATOR of the efficiency ratio)
            # gets the two idlest CPUs and the 8-core worker the next
            # eight. Round 2 did the opposite — 8-core on the cream, 2-core
            # on ranks 9-10 — which inflates efficiency_2_to_8; this
            # ordering biases the criterion against us, never for us.
            return ranked[2:10], ranked[:2]

        cpus8, cpus2 = pick_sets()
        _log(f"scale cpu sets: 8-core={sorted(cpus8)} 2-core={sorted(cpus2)}")

        def start(cores, cpus):
            return subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--scale-worker",
                 str(cores), ",".join(str(c) for c in cpus), tuples_dir, model_path],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL, text=True, bufsize=1,
                env={**os.environ, "PYTHONPATH": REPO,
                     "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1"},
            )

        def wait_ready(p):
            for line in p.stdout:
                if line.startswith("READY"):
                    _, n, warm = line.split()
                    return int(n), float(warm)
            raise RuntimeError("scale worker died before READY")

        def run_rep(p, passes, cpus):
            """One timed rep on a freshly-picked CPU set; returns
            (wall_s, in_set_steal_fraction, worker_cpu_utilization)."""
            s0 = _steal_per_cpu()
            u0 = _tree_cpu_jiffies(p.pid)
            t0 = time.time()
            p.stdin.write(f"RUN {passes} {','.join(str(c) for c in cpus)}\n")
            p.stdin.flush()
            for line in p.stdout:
                if line.startswith("WALL"):
                    wall = float(line.split()[1])
                    s1 = _steal_per_cpu()
                    u1 = _tree_cpu_jiffies(p.pid)
                    elapsed = max(0.01, time.time() - t0)
                    # jiffies are 1/100 s: fractions of the set's cpu-time
                    cap = elapsed * 100 * len(cpus)
                    frac = sum(s1[c] - s0[c] for c in cpus) / cap
                    util = (u1 - u0) / cap
                    return wall, frac, util
            raise RuntimeError("scale worker died mid-rep")

        def stop(p):
            try:
                p.stdin.write("EXIT\n")
                p.stdin.flush()
                p.wait(timeout=60)
            except Exception:
                p.kill()

        w2, w8 = start(2, cpus2), start(8, cpus8)
        n_tuples, warm2 = wait_ready(w2)
        _, warm8 = wait_ready(w8)
        # same fixed workload at both levels, sized so the 2-core wall is
        # >= ~45 s (short walls are noise-dominated)
        target = float(os.environ.get("SPARK_GRAFT_SCALE_TARGET_S", "45"))
        passes = max(1, min(8, round(target / max(warm2, 0.5))))
        _log(f"scale warmups: 2-core {warm2:.1f}s, 8-core {warm8:.1f}s -> passes={passes}")

        # Two independent estimators per round; the window-matched pair
        # ratio is the criterion and the sequential estimate is
        # disclosure + fallback:
        #
        # 1. CONCURRENT PAIR: the 2-core and 8-core workers run their
        #    timed reps in the SAME wall-clock window (the 8-core side
        #    does round(warm2/warm8) x passes so the spans coincide). A
        #    co-tenant storm inside the window slows BOTH sides, so the
        #    per-pair ratio survives one-sided storms — the failure mode
        #    that sank a validation run to 0.74 when every 8-core rep
        #    after the first landed in a sustained burst while the 2-core
        #    reps stayed clean. Quiet-box A/B (3 pairs vs 5 solo reps,
        #    same workload/box): the 2-core wall is unchanged by the
        #    8-core neighbor (24.2 s solo vs 23.3-25.6 concurrent) and
        #    the 8-core side pays 4-10% self-contention — the pair
        #    estimator reads conservatively low; per-pair asymmetries
        #    (sub-threshold steal on just one pinned set) are damped by
        #    the lower-median over the accepted pairs.
        # 2. SEQUENTIAL CONFIRMED-MIN: solo 8-core reps after each pair
        #    (cheap, ~1/4 the 2-core wall) + the pair-measured 2-core
        #    walls, confirmed-min per level (fastest wall reproduced by a
        #    second within 8%). Reads low under one-sided storms but has
        #    no self-contention; on a quiet box it is the sharper of the
        #    two (0.95+ observed) but it INFLATES when a storm lands on
        #    the 2-core reps and misses the solo 8-core reps (observed
        #    1.01 in a stormy window), so it is disclosure + fallback,
        #    not the criterion.
        #
        # A rep is rejected when the co-tenant stole > 3% of the pinned
        # set's cpu-time during it (per-CPU steal attribution) or the
        # tree's own cpu-share fell under the per-level util floor —
        # before each rep the sets are re-picked from the currently-
        # idlest CPUs and the worker re-pins its whole tree. Every wall +
        # steal fraction ships in the JSON for transparency.
        min_reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
        max_reps = int(os.environ.get("SPARK_GRAFT_SCALE_MAX_REPS", "9"))
        steal_cap = float(os.environ.get("SPARK_GRAFT_SCALE_STEAL_CAP", "0.03"))
        # our pinned tree should own ~all of its set's cpu-time; lower means
        # an in-VM neighbor or cgroup throttle interfered without showing as
        # hypervisor steal. Floors are PER LEVEL: a 2-core tree observably
        # reaches ~0.99 when clean, so accepting 0.8 there would let the
        # denominator lose 20% capacity and inflate the ratio (ADVICE r2);
        # the 8-core tree has inherent scheduler slack, so its floor is
        # looser — and a too-low 8-core util only ever DEFLATES efficiency.
        util_floor = {
            2: float(os.environ.get("SPARK_GRAFT_SCALE_UTIL_FLOOR_2", "0.93")),
            8: float(os.environ.get("SPARK_GRAFT_SCALE_UTIL_FLOOR", "0.85")),
        }
        # wall-clock budget: under a sustained co-tenant storm the retry loop
        # must degrade to best-effort rather than blow the bench's timeout.
        # 240 s (was 300): a concurrent-pair round costs ~65 s and the
        # deadline is only checked at round boundaries, so worst case runs
        # ~deadline + one round; 240 keeps the whole bench (stormy queries
        # phase + ER + scaling + informational 32c) inside the driver's
        # ~10-minute budget while still fitting the 3 quiet-box rounds both
        # estimators need
        deadline = time.time() + float(os.environ.get("SPARK_GRAFT_SCALE_BUDGET_S", "240"))
        walls = {2: [], 8: []}        # accepted: 2c pair walls, 8c SOLO walls
        conc8 = []                    # accepted 8c per-pass walls from pairs
        pair_effs = []                # accepted same-window ratios
        all_reps = {2: [], 8: [], "8conc": []}  # (wall, steal, util, ok)
        # pair window matcher: CEIL so the 8c span covers the whole 2c span
        # (round() could leave a 2c-only tail where an accounting-invisible
        # storm slows only the denominator and inflates the pair ratio; an
        # 8c-only tail can only deflate it)
        k8 = _pair_passes(warm2, warm8)

        def converged(ws):
            if len(ws) < min_reps:
                return False
            lo = sorted(ws)[:2]
            return lo[1] <= lo[0] * 1.08

        import threading

        def rep_into(w, n_passes, cpus, res, key):
            # capture failures: a bare thread death would otherwise surface
            # as an opaque KeyError on res[key] after join()
            try:
                res[key] = run_rep(w, n_passes, cpus)
            except Exception as exc:  # noqa: BLE001
                res[key] = exc

        for r in range(max_reps):
            if time.time() > deadline:
                break
            # --- concurrent pair: both levels timed in one window ---
            c8, c2 = pick_sets()
            res = {}
            t2 = threading.Thread(target=rep_into, args=(w2, passes, c2, res, 2))
            t8 = threading.Thread(
                target=rep_into, args=(w8, passes * k8, c8, res, 8)
            )
            t2.start(); t8.start(); t2.join(); t8.join()
            for side in (2, 8):
                if isinstance(res.get(side), Exception):
                    raise RuntimeError(
                        f"{side}-core pair worker failed"
                    ) from res[side]
            wall2, sf2, u2 = res[2]
            wall8t, sf8, u8 = res[8]
            wall8c = wall8t / k8
            ok2 = sf2 <= steal_cap and u2 >= util_floor[2]
            ok8 = sf8 <= steal_cap and u8 >= util_floor[8]
            all_reps[2].append((round(wall2, 3), round(sf2, 4), round(u2, 3), ok2))
            all_reps["8conc"].append(
                (round(wall8c, 3), round(sf8, 4), round(u8, 3), ok8)
            )
            if ok2:
                walls[2].append(round(wall2, 3))
            if ok8:
                conc8.append(round(wall8c, 3))
            if ok2 and ok8:
                pair_effs.append(round(wall2 / (4.0 * wall8c), 4))
            _log(f"scale pair {r + 1}: 2c {wall2:.2f}s "
                 f"steal={sf2:.1%} util={u2:.0%} {'ok' if ok2 else 'REJECTED'} | "
                 f"8c {wall8c:.2f}s/rep-equiv (x{k8} passes) "
                 f"steal={sf8:.1%} util={u8:.0%} {'ok' if ok8 else 'REJECTED'}"
                 + (f" -> pair_eff={pair_effs[-1]:.4f}" if ok2 and ok8 else ""))
            # --- solo 8c rep: clean wall for the sequential estimator ---
            if time.time() > deadline:
                break
            c8, c2 = pick_sets()
            wall8, sf8s, u8s = run_rep(w8, passes, c8)
            ok8s = sf8s <= steal_cap and u8s >= util_floor[8]
            all_reps[8].append(
                (round(wall8, 3), round(sf8s, 4), round(u8s, 3), ok8s)
            )
            if ok8s:
                walls[8].append(round(wall8, 3))
            _log(f"scale solo {r + 1} 8c: {wall8:.2f}s steal={sf8s:.1%} "
                 f"util={u8s:.0%} {'ok' if ok8s else 'REJECTED'}")
            if (len(pair_effs) >= min_reps and converged(walls[2])
                    and converged(walls[8])):
                break
        # one SOLO 2c rep with whatever budget remains: every in-loop 2c
        # wall is measured beside a busy 8c neighbor, and although the
        # quiet-box A/B found no 2c-side contention, a bandwidth-bound
        # workload on other hardware could slow the denominator every
        # round and inflate BOTH estimators. A solo 2c wall can only
        # LOWER best[2] (min pool), so folding it in is strictly
        # conservative; skipped (and disclosed via its absence in
        # all_reps) when storms already ate the budget.
        est2 = min((w for w in walls[2]), default=warm2)
        if time.time() + est2 < deadline + 60:
            c8, c2 = pick_sets()
            wall2s, sf2s, u2s = run_rep(w2, passes, c2)
            ok2s = sf2s <= steal_cap and u2s >= util_floor[2]
            all_reps.setdefault("2solo", []).append(
                (round(wall2s, 3), round(sf2s, 4), round(u2s, 3), ok2s)
            )
            if ok2s:
                walls[2].append(round(wall2s, 3))
            _log(f"scale solo 2c: {wall2s:.2f}s steal={sf2s:.1%} "
                 f"util={u2s:.0%} {'ok' if ok2s else 'REJECTED'}")
        if not walls[2]:  # co-tenant never let up: fall back to all reps
            walls[2] = [r[0] for r in all_reps[2]]
        if not walls[8]:  # prefer solo 8c rejects, then pair-measured walls
            walls[8] = ([r[0] for r in all_reps[8]] or conc8
                        or [r[0] for r in all_reps["8conc"]])
        stop(w2)
        stop(w8)

        # informational 32-core point (unpinned: co-tenant makes >23
        # dedicated CPUs unavailable; not the criterion pair)
        all_cpus = list(range(os.cpu_count() or 32))
        w32 = start(32, all_cpus)
        _, warm32 = wait_ready(w32)
        walls32 = []
        for _ in range(4):
            wall, sfrac, _u = run_rep(w32, passes, all_cpus)
            walls32.append(wall)
            if sfrac <= steal_cap and len(walls32) >= 2:
                break
        wall32 = min(walls32)
        stop(w32)

        # confirmed min (see _confirmed_min): a level's estimate must be
        # reproduced by a second accepted wall within 8% — one lucky
        # 2-core window can no longer set the ratio's denominator.
        best = {c: _confirmed_min(ws) for c, ws in walls.items()}
        raw_min = {c: min(ws) for c, ws in walls.items()}
        med = {c: sorted(ws)[len(ws) // 2] for c, ws in walls.items()}
        work = n_tuples * passes
        eff_seq = round(best[2] / (4.0 * best[8]), 4)
        # LOWER-middle for even counts: sorted[n//2] would take the upper-
        # middle and inflate the gated value
        eff_pair = round(_lower_median(pair_effs), 4) if pair_effs else None
        # The window-matched pair median is the CRITERION whenever pairs
        # were accepted: a one-sided storm cannot bias it in either
        # direction (both sides share the window; per-pair asymmetries are
        # damped by the lower-median over >= 3 pairs), while the
        # sequential estimate inflates when storms land on the 2-core
        # reps but miss the solo 8-core reps (observed: a stormy run read
        # seq = 1.01 while the pairs read 0.88-0.99). The sharper
        # sequential estimate is disclosed alongside and used only as the
        # fallback when every pair was rejected.
        efficiency = eff_pair if eff_pair is not None else eff_seq

        def thr(wall):
            return work / wall

        scaling = {
            "tuples": n_tuples,
            "passes": passes,
            "pair_passes_8c": k8,
            "accepted_walls_s": {"2": walls[2], "8": walls[8],
                                 "8_pair_per_rep": conc8},
            "pair_efficiencies": pair_effs,
            "all_reps_wall_steal_util_ok": {
                "2": all_reps[2], "8": all_reps[8], "8conc": all_reps["8conc"],
                "2solo": all_reps.get("2solo", []),
                "32": [(round(w, 3), None, None, True) for w in walls32],
            },
            "best_wall_s": {"2": best[2], "8": best[8], "32": round(wall32, 3)},
            "raw_min_wall_s": {"2": raw_min[2], "8": raw_min[8]},
            "median_wall_s": {"2": med[2], "8": med[8], "32": round(wall32, 3)},
            "tuples_per_sec": {
                "2": round(thr(best[2]), 1),
                "8": round(thr(best[8]), 1),
                "32": round(thr(wall32), 1),
            },
            "efficiency_2_to_8": round(efficiency, 4),
            "efficiency_2_to_8_seq_confirmed_min": eff_seq,
            "efficiency_2_to_8_pair_median": eff_pair,
            "efficiency_2_to_8_median": round(thr(med[8]) / (4 * thr(med[2])), 4),
            "efficiency_8_to_32": round(thr(wall32) / (4 * thr(best[8])), 4),
            "note": "criterion pair N=2 -> 4N=8: each level's whole process "
                    "tree (JVM+GC+python workers) is sched_setaffinity-pinned "
                    "to N of the momentarily-idlest CPUs, RE-PICKED and "
                    "re-pinned per-thread before every rep (the co-tenant "
                    "moves); a rep is rejected "
                    "when /proc/stat shows >3% of the pinned set's cpu-time "
                    "stolen during it OR the worker tree's own cpu-time "
                    "(utime+stime over all descendants) covered too little "
                    "of the set's capacity (<93% at 2 cores, <85% at 8 — "
                    "invisible in-VM interference; the tighter 2-core floor "
                    "keeps the ratio's denominator honest). The 2-core "
                    "worker is pinned to the two IDLEST CPUs and the 8-core "
                    "worker to the next eight, so set assignment can only "
                    "bias the criterion downward. efficiency_2_to_8 = "
                    "the lower-median same-window concurrent-pair ratio: "
                    "the pair runs both levels in one wall-clock window "
                    "so a one-sided co-tenant storm cannot bias the ratio "
                    "in either direction, its 8c side carries 4-10% "
                    "self-contention (quiet-box A/B; 2c side measured "
                    "unaffected) so it reads conservatively low, and the "
                    "lower-median damps per-pair asymmetries. The "
                    "sequential confirmed-min estimate (solo 8c walls + "
                    "pair 2c walls + a closing solo 2c rep when budget "
                    "permits) is disclosed alongside and is the fallback "
                    "when every pair was rejected; it inflates when "
                    "storms land on the 2c reps but miss the solo 8c "
                    "reps, which is why it is not the criterion. 8->32 is "
                    "informational only (unpinned; a co-tenant holds ~9 "
                    "of 32 CPUs)",
        }

    full = {
        "metric": "candidate_pairs_scored_per_sec",
        "value": round(headline, 1),
        "unit": "pairs/sec",
        "queries": queries,
        "queries_rerun_walls": queries_rerun,
        "sf": sf_dir,
        "er": er,
        "scaling": scaling,
    }
    # full payload (verbose scaling evidence: every rep's wall + steal +
    # utilization + the protocol note) goes to a file; stdout gets ONE
    # compact line that stays intact even under a 2000-char tail capture —
    # the driver's record must hold the complete parseable result.
    detail_path = os.path.join(REPO, "BENCH", "last_run_full.json")
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1)
    compact = dict(full)
    if scaling:
        compact["scaling"] = {
            k: scaling[k]
            for k in (
                "tuples",
                "best_wall_s",
                "raw_min_wall_s",
                "median_wall_s",
                "tuples_per_sec",
                "efficiency_2_to_8",
                "efficiency_2_to_8_seq_confirmed_min",
                "efficiency_2_to_8_pair_median",
                "pair_efficiencies",
                "efficiency_2_to_8_median",
                "efficiency_8_to_32",
            )
            if k in scaling
        }
        compact["scaling"]["detail"] = "BENCH/last_run_full.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # never let the driver tail-truncate the line
        compact.pop("queries_rerun_walls", None)  # full copy stays in the file
        compact["queries"] = {
            k: v for k, v in sorted(queries.items(), key=lambda kv: -kv[1])[:15]
        }
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
