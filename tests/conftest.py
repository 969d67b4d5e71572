"""Shared Spark fixture + multi-process sharding for full-suite runs.

The suite is ~1100 Spark tests whose cost is almost entirely the
per-action JVM floor (~0.2 s even for one-row frames), so a single
process runs ~28-45 min wall — past the round driver's verification
window (VERIFY_r12 ``tests_ok: false``: the tail cut at ~90 % with zero
failures). Config knobs (cores, shuffle partitions, AQE, codegen) were
each measured a wash (±5 % on a 49-test probe), so the fix is
parallelism: a full-suite invocation (``pytest tests/``, or a bare
``pytest``) re-launches itself as subprocess workers, each owning its
own local[4] SparkSession and a deterministic shard of the collection.
The worker count is one per core, capped by ``MemAvailable`` at 4 GiB
per worker (``SPARK_GRAFT_TEST_WORKERS`` overrides it). A worker that dies
without a test summary fails the run, and its full log is kept. Runs
that name specific files/tests (developer loops) are never sharded.

Sharding is by MODULE (preserves within-module order and any
module-scoped state), greedy-balanced by the measured r13 per-module
wall costs below; the two biggest modules of independent parametrized
gates (test_oracles, test_plans) are split per-item so no single worker
inherits a 450 s module. ``-x`` keeps fail-fast semantics: the parent
kills the other workers as soon as one fails. Workers write no shared
state: no saveAsTable/metastore use anywhere in the suite, the Spark UI
is disabled, and pytest's numbered tmp roots are concurrency-safe.
"""

import os
import re
import subprocess
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# keep test sessions light
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

_SHARD_ENV = "SPARK_GRAFT_TEST_SHARD"
# each worker's local[4] JVM (4g heap) peaks at ~2.6-2.9 GB anon RSS;
# budget 4 GiB of MemAvailable per worker so the kernel never has to
# OOM-kill one of them mid-run
_WORKER_MEM = 4 << 30


def _default_workers() -> int:
    """One worker per core, capped by MemAvailable // _WORKER_MEM."""
    cores = len(os.sched_getaffinity(0))
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError):
        return 1
    return max(1, min(cores, kb * 1024 // _WORKER_MEM))


_WORKERS = int(os.environ.get("SPARK_GRAFT_TEST_WORKERS")
               or _default_workers())
# independent parametrized gate files — safe and necessary to split
# below module level (test_oracles alone is ~450 s)
_SPLITTABLE = {"test_oracles.py", "test_plans.py"}
# measured wall seconds per module (r13 baseline run, --durations sums
# + 1.35 s/test for tests outside the slowest-150 window); only the
# RATIOS matter, for greedy balancing — an unlisted module falls back
# to 1.5 s/test
_COST = {
    "test_oracles.py": 456, "test_curation.py": 204,
    "test_streaming.py": 152, "test_plans.py": 144,
    "test_robustness.py": 141, "test_similarity.py": 97,
    "test_timeseries.py": 84, "test_fcm.py": 84, "test_stats.py": 83,
    "test_dedup.py": 76, "test_evaluation.py": 67,
    "test_encoding.py": 62, "test_text.py": 55, "test_linkage.py": 42,
    "test_graph.py": 39, "test_sessions.py": 38,
    "test_multimodal.py": 38, "test_sketches.py": 33,
    "test_drift.py": 31, "test_feature_gen.py": 30, "test_ahp.py": 25,
    "test_sources.py": 24, "test_retrieval.py": 21, "test_bayes.py": 14,
    "test_apriori.py": 13, "test_tokenizer.py": 12, "test_web.py": 12,
    "test_kmeans.py": 11, "test_canopy.py": 11, "test_canon.py": 9,
    "test_online_topsis.py": 8, "test_topsis.py": 7,
    "test_quantiles.py": 7, "test_pipeline.py": 5, "test_pca.py": 5,
}


@pytest.fixture(scope="session")
def spark():
    from flink_ml__spark.session import get_spark

    spark = get_spark("flink_ml__spark-tests", shuffle_partitions=4)
    yield spark
    spark.stop()


def _shard_groups(items):
    """Deterministic (cost, key, item_indexes) groups for balancing."""
    by_mod: dict[str, list[int]] = {}
    for idx, it in enumerate(items):
        mod = os.path.basename(it.nodeid.split("::", 1)[0])
        by_mod.setdefault(mod, []).append(idx)
    groups = []
    for mod in sorted(by_mod):
        idxs = by_mod[mod]
        cost = float(_COST.get(mod, 1.5 * len(idxs)))
        if mod in _SPLITTABLE:
            per = cost / len(idxs)
            for k, i in enumerate(idxs):
                groups.append((per, f"{mod}::{k:04d}", [i]))
        else:
            groups.append((cost, mod, idxs))
    return groups


def pytest_collection_modifyitems(config, items):
    shard = os.environ.get(_SHARD_ENV)
    if not shard:
        return
    w, n = map(int, shard.split("/"))
    groups = _shard_groups(items)
    # greedy LPT: big groups first onto the least-loaded worker; ties
    # break on the key so every worker computes the same assignment
    groups.sort(key=lambda g: (-g[0], g[1]))
    loads = [0.0] * n
    keep: set[int] = set()
    for cost, _key, idxs in groups:
        b = min(range(n), key=lambda j: (loads[j], j))
        loads[b] += cost
        if b == w:
            keep.update(idxs)
    selected = [it for i, it in enumerate(items) if i in keep]
    deselected = [it for i, it in enumerate(items) if i not in keep]
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


def _is_full_suite_run(config) -> bool:
    """``pytest tests/`` or a bare ``pytest`` (which collects from the
    rootdir); a run naming files or tests is not."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        args = list(config.args)
    except Exception:
        return False
    return len(args) <= 1 and all(
        os.path.abspath(a) in (here, os.path.dirname(here)) for a in args)


def pytest_cmdline_main(config):
    if os.environ.get(_SHARD_ENV) or _WORKERS <= 1:
        return None  # worker (or sharding disabled): run normally
    # runs that report instead of testing (--co, --version, --help,
    # --fixtures, --markers) stay in-process
    if any(getattr(config.option, o, False) for o in (
            "collectonly", "version", "help", "showfixtures",
            "show_fixtures_per_test", "markers")):
        return None
    if not _is_full_suite_run(config):
        return None  # developer runs of specific files stay in-process

    t0 = time.time()
    inv = list(config.invocation_params.args)
    argv = [sys.executable, "-m", "pytest",
            "-p", "no:cacheprovider"] + inv
    fail_fast = "-x" in inv or "--exitfirst" in inv
    procs, logs = [], []
    for w in range(_WORKERS):
        env = dict(os.environ)
        env[_SHARD_ENV] = f"{w}/{_WORKERS}"
        log = tempfile.NamedTemporaryFile(
            mode="w+", suffix=f".pytest-shard{w}.log", delete=False)
        logs.append(log)
        procs.append(subprocess.Popen(
            argv, stdout=log, stderr=subprocess.STDOUT, env=env))
    print(f"[conftest] full-suite run sharded across {_WORKERS} "
          f"workers (SPARK_GRAFT_TEST_WORKERS to change)")

    rcs: dict[int, int] = {}
    try:
        while len(rcs) < len(procs):
            for w, p in enumerate(procs):
                if w in rcs:
                    continue
                rc = p.poll()
                if rc is None:
                    continue
                rcs[w] = rc
                if fail_fast and rc not in (0, 5):
                    for q in procs:
                        if q.poll() is None:
                            q.terminate()
            time.sleep(0.5)
    finally:
        for p in procs:
            if p.poll() is None:
                p.terminate()

    tot = {"passed": 0, "skipped": 0, "failed": 0, "error": 0}
    bad_tail, lost = [], []
    for w, log in enumerate(logs):
        log.flush()
        with open(log.name) as f:
            out = f.read()
        summary = ""
        # -q prints a bare "N passed, M skipped in Xs" line; verbose
        # modes wrap the same text in a ==== banner — accept both
        pat = (r"^=*\s*((?:\d+ (?:passed|failed|skipped|errors?|"
               r"deselected|warnings?)[, ]*)+in [\d.]+s.*?)\s*=*\s*$")
        for m in re.finditer(pat, out, re.M):
            summary = m.group(1)
        for kind in tot:
            mm = re.search(rf"(\d+) {kind}", summary)
            if mm:
                tot[kind] += int(mm.group(1))
        status = "ok" if rcs.get(w) in (0, 5) else f"rc={rcs.get(w)}"
        print(f"[worker {w}] {status}: {summary or '(no summary)'}")
        if rcs.get(w) in (0, 5):
            os.unlink(log.name)
            continue
        bad_tail.append(f"----- worker {w} tail -----\n" + out[-1500:])
        print(f"[worker {w}] full log kept at {log.name}")
        if not summary:
            # died before pytest could report (OOM kill, JVM crash):
            # its unrun tests are invisible in the totals, so say so
            lost.append(w)
    for tail in bad_tail[:2]:
        print(tail)
    if lost:
        print(f"[conftest] FAILED: worker(s) {lost} exited without a "
              f"test summary; their tests did not all run")

    parts = [f"{v} {k}" for k, v in tot.items() if v]
    wall = time.time() - t0
    line = f" {', '.join(parts) or 'no tests ran'} in {wall:.2f}s "
    print("=" * max(0, (80 - len(line)) // 2) + line
          + "=" * max(0, (80 - len(line) + 1) // 2))
    bad = [rc for rc in rcs.values() if rc not in (0, 5)]
    if not bad:
        return 0
    # a signal-killed worker has a negative rc
    return bad[0] if bad[0] > 0 else pytest.ExitCode.TESTS_FAILED
