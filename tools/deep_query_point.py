"""Dated deep-scale point for ANY bench-stress catalog query (r14,
verdict #6), with the incremental-dedup state/compaction extras as a mode.

Methodology matches the bench stress section: fresh session, in-session
base measurement at $SPARK_GRAFT_SF_DIR, then the replicated stress
layout from bench._build_stress_dir at each requested factor, best-of-2
per point through bench.time_best (first execution pays
whole-stage-codegen compilation). Prints ONE JSON line: {"date", "query",
"sf_dir", "base": {...}, "points": [{"factor", "sec", "rows", "growth_x"}...]}.

Three modes::

    python tools/deep_query_point.py <query_name> <factor> [factor ...]
    # e.g. python tools/deep_query_point.py jaccard_prefix_filter_join 30

    python tools/deep_query_point.py --simhash-rep-stage <factor> [...]
    # times operators.neardup.simhash_hamming_rep_pairs (collapse +
    # band join + Hamming verify, NO member expansion) over the stress
    # corpus. The full simhash query's output is quadratic in
    # replica-group size BY CONTRACT (every member pair is emitted:
    # 29,628 pairs at sf0.01 already), so its wall time at 100x
    # measures emitted-row volume, not the band stage; this mode
    # asserts the 2**16-bounded compute stage itself stays flat.

    python tools/deep_query_point.py incremental_dedup_survivors <factor> [...] --chunks N
    # e.g. python tools/deep_query_point.py incremental_dedup_survivors 60 --chunks 4
    # adds, at the last factor, "state_oneshot": the persisted signature
    # state via StateTable (rows, on-disk bytes, bytes/doc, files) — the
    # O(distinct docs) claim measured, not asserted; and for N > 0,
    # "chunked": N chunks through incremental_minhash_dedup with a
    # StateTable carry, per-chunk append growth, file count before/after
    # compact(), and "associativity_ok" (chunked survivors == one-shot
    # survivors at this scale; the exit code is 1 when it is false).
    # --chunks 0 records the state footprint only.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (reuses time_best, _build_stress_dir + SF_DIR)

from syntheticdata_pipeline__spark.plans import load_all  # noqa: E402

CHUNKED_QUERY = "incremental_dedup_survivors"


def _du(path: str) -> tuple[int, int]:
    """(bytes, data-file count) under path, ignoring _SUCCESS/markers."""
    total, files = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def state_and_chunks(spark, sdir: str, factor: int, n_chunks: int) -> dict:
    """The "state_oneshot" and (n_chunks > 0) "chunked" records for the
    incremental dedup over the documents table in ``sdir``."""
    from pyspark.sql import functions as F

    from syntheticdata_pipeline__spark.operators.neardup import (
        incremental_minhash_dedup,
    )
    from syntheticdata_pipeline__spark.operators.state import StateTable

    # ---- state size: one signature row per ingested doc --------------------
    docs = spark.read.parquet(os.path.join(sdir, "documents.parquet"))
    n_docs = docs.count()
    state_path = f"/tmp/deep_query_point_state_{factor}x"
    shutil.rmtree(state_path, ignore_errors=True)
    st = StateTable(spark, state_path, key_cols=["id"], value_cols=["sig"])
    _surv, sigs = incremental_minhash_dedup(docs, None, id_col="doc_id", text_col="text")
    st.append(sigs)
    nbytes, nfiles = _du(state_path)
    out: dict = {
        "state_oneshot": {
            "docs": n_docs,
            "rows": st.count(),
            "bytes": nbytes,
            "bytes_per_doc": round(nbytes / max(1, n_docs), 1),
            "files": nfiles,
        }
    }

    # ---- chunked ingestion + compaction (n_chunks=0 skips: the deepest
    # factors measure the one-shot curve + state footprint only) -------------
    if n_chunks <= 0:
        return out
    if n_docs == 0:
        # empty documents table: bounds.lo/hi are NULL and the step
        # arithmetic below would TypeError (r12 ADVICE #4) — record the
        # vacuous result explicitly instead of crashing the evidence run
        out["chunked"] = {"n_chunks": 0, "survivors_total": 0, "associativity_ok": True}
        return out
    shutil.rmtree(state_path, ignore_errors=True)
    bounds = docs.select(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    step = (bounds.hi - bounds.lo + n_chunks) // n_chunks
    survivors_total = 0
    appends = []
    t0 = time.time()
    for c in range(n_chunks):
        lo = bounds.lo + c * step
        chunk = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step))
        prior = st.load() if st.exists() else None
        surv, sigs = incremental_minhash_dedup(chunk, prior, id_col="doc_id", text_col="text")
        survivors_total += surv.count()
        st.append(sigs)
        b, f_ = _du(state_path)
        appends.append({"chunk": c, "state_bytes": b, "state_files": f_})
    chunked_sec = round(time.time() - t0, 3)
    pre_bytes, pre_files = _du(state_path)
    st.compact()
    post_bytes, post_files = _du(state_path)
    # associativity at depth: chunked survivor total == one-shot total.
    # The flag is CHECKED and recorded, not just printed (r12 ADVICE #4)
    # — a silent mismatch must self-report in the evidence JSON and in
    # the exit code.
    oneshot_surv, _ = incremental_minhash_dedup(docs, None, id_col="doc_id", text_col="text")
    oneshot_n = oneshot_surv.count()
    out["chunked"] = {
        "n_chunks": n_chunks,
        "sec_total": chunked_sec,
        "survivors_total": survivors_total,
        "appends": appends,
        "state_rows": st.count(),
        "compaction": {
            "bytes": [pre_bytes, post_bytes],
            "files": [pre_files, post_files],
        },
        "oneshot_survivors": oneshot_n,
        "associativity_ok": survivors_total == oneshot_n,
    }
    return out


def main() -> None:
    args = sys.argv[1:]
    n_chunks = None
    if "--chunks" in args:
        i = args.index("--chunks")
        n_chunks = int(args[i + 1])
        del args[i : i + 2]
    name = args[0]
    factors = [int(a) for a in args[1:]] or [30]
    if n_chunks is not None and name != CHUNKED_QUERY:
        sys.exit(f"--chunks applies to {CHUNKED_QUERY} only")
    spark = bench._session("deep-query-point")
    if name == "--simhash-rep-stage":
        from syntheticdata_pipeline__spark.operators.neardup import (
            simhash_hamming_rep_pairs,
        )

        def build(sp, sf_dir):
            docs = sp.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            rep_pairs, _groups = simhash_hamming_rep_pairs(docs)
            return rep_pairs

        name = "simhash_rep_stage(simhash_hamming_rep_pairs)"
    else:
        build = load_all()[name].build

    def best_of_2(sf_dir: str) -> tuple[float, int]:
        sec, rows = bench.time_best(spark, build, sf_dir)
        return round(sec, 3), rows

    out: dict = {"date": time.strftime("%Y-%m-%d"), "query": name, "sf_dir": bench.SF_DIR}
    base_sec, base_rows = best_of_2(bench.SF_DIR)
    out["base"] = {"sec": base_sec, "rows": base_rows}
    out["points"] = []
    for factor in factors:
        sdir = bench._build_stress_dir(spark, bench.SF_DIR, factor)
        sec, rows = best_of_2(sdir)
        out["points"].append(
            {
                "factor": factor,
                "sec": sec,
                "rows": rows,
                "growth_x": round(sec / base_sec, 2),
            }
        )
    if n_chunks is not None:
        out.update(state_and_chunks(spark, sdir, factors[-1], n_chunks))
    print(json.dumps(out))
    if not out.get("chunked", {}).get("associativity_ok", True):
        sys.exit(1)


if __name__ == "__main__":
    main()
