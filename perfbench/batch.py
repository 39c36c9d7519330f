"""The ``batch`` workload: a closed loop over registry keys.

One client runs the keys one after another.  A first pass collects every
key's result and checks it against the fingerprint of the key's DuckDB
oracle twin on the same fixture; it also absorbs each plan's first-use
cost.  The timed loop then builds each key (``QUERIES[key](tables)``) and
forces it through the noop sink, key after key, until at least TIMED_PASSES
full passes and ``seconds`` of measurement are done.  A key's time is its
fastest timed run: contention from outside the run only ever adds time.
"""

from __future__ import annotations

import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import check as check_mod

VOTING_KEYS = [
    "agg_votes_per_candidate",
    "q1_pricing_summary",
    "q18_large_orders",
    "events_anomaly_zscore",
]
CURATION_KEYS = [
    "dedup_embedding_bucketed",
    "sim_knn_graph_arrow",
    "graph_bfs_distance_deep",
    "text_quality_score",
    "corpus_pack_sequences_sharded",
]
KEYS = VOTING_KEYS + CURATION_KEYS
TIMED_PASSES = 2


@dataclass
class KeyRun:
    key: str
    construct_s: float
    execute_s: float


@dataclass
class BatchResult:
    runs: list[KeyRun]
    attempted: int
    failed: int
    mismatches: dict = field(default_factory=dict)

    def per_key(self) -> dict[str, tuple[float, float]]:
        """Construct and execute seconds of each key's fastest timed run."""
        out: dict[str, tuple[float, float]] = {}
        for r in self.runs:
            best = out.get(r.key)
            if best is None or r.construct_s + r.execute_s < sum(best):
                out[r.key] = (r.construct_s, r.execute_s)
        return out


def oracle_sql(keys: list[str]) -> dict[str, str]:
    """The DuckDB twin of each key; a rows-only key uses its paired key's."""
    from realtimevotingdataengineer_spark.registry import ORACLES, PAIRED_ORACLE

    return {k: ORACLES[k] if k in ORACLES else ORACLES[PAIRED_ORACLE[k]] for k in keys}


def run_batch(
    spark, tables, fixture_dir: str, seconds: float, job_group=None, log=None, check=True
) -> BatchResult:
    from realtimevotingdataengineer_spark.registry import PAIRED_ORACLE, QUERIES

    attempted = failed = 0
    mismatches: dict[str, str] = {}
    good = list(KEYS)
    if check:
        good = []
        # DuckDB computes the oracle fingerprints while Spark runs the check pass
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(check_mod.oracle_fingerprints, fixture_dir, oracle_sql(KEYS))
            results = {}
            for k in KEYS:
                try:
                    t0 = time.time()
                    results[k] = QUERIES[k](tables).toArrow()
                    if log:
                        log(f"checked {k} in {time.time() - t0:.1f} s")
                except Exception as ex:
                    results[k] = ex
                    traceback.print_exc(file=sys.stderr)
            expected = oracle.result()
        for k, got in results.items():
            attempted += 1
            if isinstance(got, Exception):
                failed += 1
                mismatches[k] = repr(got)[:300]
                continue
            want = expected[k]
            if k in PAIRED_ORACLE:  # the twin checks the projection it shares
                got = got.select([c.split(":", 1)[0] for c in want["columns"]])
            fp = check_mod.fingerprint(got)
            if fp != want:
                failed += 1
                mismatches[k] = f"spark={fp} oracle={want}"
            good.append(k)
    if log:
        log("check pass done")
    runs: list[KeyRun] = []
    start = time.time()
    i = 0
    while good and (i < TIMED_PASSES * len(good) or time.time() - start < seconds):
        k = good[i % len(good)]
        i += 1
        attempted += 1
        spark.catalog.clearCache()
        if job_group is not None:
            job_group(k)
        try:
            t0 = time.time()
            df = QUERIES[k](tables)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
        except Exception as ex:
            failed += 1
            mismatches.setdefault(k, repr(ex)[:300])
            traceback.print_exc(file=sys.stderr)
            continue
        runs.append(KeyRun(k, t1 - t0, t2 - t1))
    return BatchResult(runs, attempted, failed, mismatches)
