"""Independent output checks, run after the benchmark JVM exits (outside every
timed region). Each returns a list of failure messages and a dict of
facts worth printing.

- k-means workloads: a numpy Lloyd loop with the engine's semantics
  (strict-< assignment with ties to the lowest index, empty cluster =>
  re-sample at seed + iteration, stop when the summed centroid shift
  < eps), started from the engine's own seed sample. Its iteration
  count must match exactly, its centroids within CENTROID_TOL. On
  kmeans_paper_e2e that covers the timed fixed-round jobs and the runs
  that stop at the paper's eps. Its seconds per round are recorded as
  the sequential comparator.
- board_read: each query's rows against the DuckDB oracle SQL the
  program ships (`SparkEntry.oracleSql`), compared like the repo's
  oracle gate: columns by name, rows sorted, floats to 9 decimals.
- lake_write: every step's result and the final table against a
  replay of the same plan over Python sets.
"""
import glob
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen

# Centroids are means of the same points; the engine and numpy only
# differ in summation order, so agreement to 1e-9 relative is expected.
CENTROID_TOL = 1e-6
# GEMM distances are exact to ~1e-12 relative; rows whose best two
# distances are closer than this are re-decided with the engine's exact
# left-to-right sum.
TIE_MARGIN = 1e-7


def assign(x, c):
    """Nearest centroid per row, as `LloydKernel`: squared distance summed
    left to right over dimensions, strict < (ties to the lowest index)."""
    out = np.empty(len(x), dtype=np.int64)
    cn = (c * c).sum(1)
    for lo in range(0, len(x), 20000):
        xb = x[lo:lo + 20000]
        dist = (xb * xb).sum(1)[:, None] - 2.0 * xb @ c.T + cn[None, :]
        best = np.argmin(dist, axis=1)
        if c.shape[0] > 1:
            rows = np.arange(len(xb))
            first = dist[rows, best].copy()
            dist[rows, best] = np.inf
            second = dist.min(axis=1)
            near = np.nonzero(second - first <= TIE_MARGIN * (1.0 + np.abs(first)))[0]
            if near.size:
                xs = xb[near]
                exact = np.zeros((near.size, c.shape[0]))
                for j in range(c.shape[1]):
                    diff = xs[:, j:j + 1] - c[None, :, j]
                    exact += diff * diff
                best[near] = np.argmin(exact, axis=1)
        out[lo:lo + 20000] = best
    return out


def lloyd(x, k, max_iter, eps, samples, seed):
    """`KMeansRunner.runLoop` over numpy: returns (centroids, iterations,
    reinits, seconds per round)."""
    cents = np.array(samples[str(seed)], dtype=np.float64)
    it, reinits, converged, rounds = 1, 0, False, 0
    t0 = time.perf_counter()
    while it < max_iter and not converged:
        lab = assign(x, cents)
        rounds += 1
        counts = np.bincount(lab, minlength=k)
        if (counts == 0).any():
            reinits += 1
            key = str(seed + it)
            if key not in samples:
                raise ValueError(f"empty cluster at iteration {it} but no sample for seed {key}")
            cents = np.array(samples[key], dtype=np.float64)
        else:
            new = np.stack([np.bincount(lab, weights=x[:, j], minlength=k)
                            for j in range(x.shape[1])], axis=1) / counts[:, None]
            err = np.sqrt(((cents - new) ** 2).sum(1)).sum()
            cents = new
            converged = err < eps
        if not converged:
            it += 1
    per_round = (time.perf_counter() - t0) / max(rounds, 1)
    return cents, it, reinits, per_round


def _load(path):
    with open(path) as f:
        return json.load(f)


def _close(a, b):
    return a.shape == b.shape and np.allclose(a, b, rtol=CENTROID_TOL, atol=CENTROID_TOL)


def parse_points(path):
    with open(path, "r") as f:
        text = f.read()
    first = text[:text.index("\n")]
    d = first.count(",") + 1
    flat = np.array(text.replace("<", " ").replace(">", " ").replace(",", " ").split(),
                    dtype=np.float64)
    return flat.reshape(-1, d)


def kmeans_paper_e2e(work, seed, smoke):
    spec = _load(os.path.join(work, "check", "kmeans_paper_e2e.json"))
    fails, facts = [], {"numpy_s_per_iter": [], "iters": []}
    for i, job in enumerate(spec["jobs"]):
        x = parse_points(job["file"])
        cents, it, reinits, per_round = lloyd(x, job["k"], job["max_iter"], job["eps"],
                                              job["samples"], 42)
        facts["numpy_s_per_iter"].append(per_round)
        facts["iters"].append(it)
        if it != job["iterations"] or reinits != job["reinits"]:
            fails.append(f"job{i}: engine {job['iterations']} iterations / {job['reinits']}"
                         f" reinits, numpy {it} / {reinits}")
        rows = [ln.split("\t") for ln in job["centroids_text"].splitlines() if ln.strip()]
        got = np.zeros((job["k"], job["d"]))
        for cid, vec in rows:
            got[int(cid)] = [float(v) for v in vec.strip("<>").split(", ")]
        if len(rows) != job["k"] or not _close(got, cents):
            fails.append(f"job{i}: centroids differ from numpy Lloyd beyond {CENTROID_TOL}")
    # the runs that stop at the paper's eps: iterations to converge
    facts["converge_iters"] = []
    for run in spec["convergence"]:
        x = parse_points(run["file"])
        cents, it, reinits, _ = lloyd(x, run["k"], run["max_iter"], run["eps"],
                                      run["samples"], 42)
        facts["converge_iters"].append(it)
        name = f"n={run['n']} eps={run['eps']}"
        if it != run["iterations"] or reinits != run["reinits"]:
            fails.append(f"{name}: engine {run['iterations']} iterations / {run['reinits']}"
                         f" reinits, numpy {it} / {reinits}")
        if not _close(np.array(run["centroids"]), cents):
            fails.append(f"{name}: centroids differ from numpy Lloyd beyond {CENTROID_TOL}")
    return fails, facts


def lloyd_large_k(work, seed, smoke):
    spec = _load(os.path.join(work, "check", "lloyd_large_k.json"))
    files = sorted(glob.glob(os.path.join(spec["dir"], "*.parquet")))
    x = np.concatenate([pq.read_table(f)["point"].combine_chunks().flatten().to_numpy()
                        for f in files]).reshape(-1, spec["d"])
    cents, it, reinits, per_round = lloyd(x, spec["k"], spec["rounds"] + 1, 0.0,
                                          spec["samples"], 42)
    fails = []
    if it != spec["iterations"] or reinits != spec["reinits"]:
        fails.append(f"engine {spec['iterations']} iterations / {spec['reinits']} reinits, "
                     f"numpy {it} / {reinits}")
    if not _close(np.array(spec["centroids"]), cents):
        fails.append(f"centroids differ from numpy Lloyd beyond {CENTROID_TOL}")
    return fails, {"numpy_s_per_iter": per_round, "iters": it}


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "timestamp"):
        return v.timestamp()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], out


def board_read(work, seed, smoke):
    import duckdb
    tables = os.path.join(work, "inputs", "rep0", "board")
    out = os.path.join(work, "check", "board")
    oracle = _load(os.path.join(out, "oracle_sql.json"))
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    fails, facts = [], {"rows": {}}
    for q in sorted(oracle):
        files = glob.glob(os.path.join(out, q, "*.parquet"))
        if not files:
            fails.append(f"{q}: no rows written")
            continue
        sd = con.execute(f"SELECT * FROM '{os.path.join(out, q)}/*.parquet'")
        s_cols, s_rows = [c[0] for c in sd.description], sd.fetchall()
        try:
            od = con.execute(oracle[q])
            o_cols, o_rows = [c[0] for c in od.description], od.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{q}: oracle SQL error: {e}")
            continue
        sc, sr = _canon(s_cols, s_rows)
        oc, orr = _canon(o_cols, o_rows)
        facts["rows"][q] = len(sr)
        if sc != oc:
            fails.append(f"{q}: columns {sc} != oracle {oc}")
        elif sr != orr:
            diff = [(a, b) for a, b in zip(sr, orr) if a != b][:2]
            fails.append(f"{q}: {len(sr)} rows vs oracle {len(orr)}; e.g. {diff}")
    return fails, facts


def lake_write(work, seed, smoke):
    steps = gen.lake_plan(seed, smoke)
    got = _load(os.path.join(work, "check", "lake_write.json"))["results"]
    table = {}  # key -> (val, txt)
    history = {}  # step index -> aggregate at the version it wrote
    version = 0
    want = []

    def aggregate(t):
        return f"{len(t)},{sum(t)},{sum(v for v, _ in t.values())}"

    for i, (words, batch) in enumerate(steps):
        op = words[0]
        rows = {}
        if batch is not None:
            b = batch.to_pydict()
            rows = {k: (v, s) for k, v, s in zip(b["key"], b.get("val", b["key"]),
                                                 b.get("txt", b["key"]))}
        if op == "commit":
            table = dict(rows) if words[2] == "0" else {**table, **rows}
        elif op in ("merge", "upsert"):
            table = {**table, **rows}
        elif op == "delete":
            table = {k: v for k, v in table.items() if k not in rows}
        if op in ("commit", "merge", "upsert", "delete", "compact"):
            version += 1
            history[i] = aggregate(table)
            want.append(str(version))
        elif op == "expire":
            want.append(None)
        elif op == "latest":
            want.append(aggregate(table))
        elif op == "asof":
            want.append(history[int(words[1])])
    fails = []
    if len(got) != len(want):
        fails.append(f"{len(got)} step results, plan has {len(want)}")
    for i, (g, w) in enumerate(zip(got, want)):
        if w is not None and g != w:
            fails.append(f"step {i} {steps[i][0][0]}: got {g}, replay {w}")
    final = pq.read_table(os.path.join(work, "check", "lake", "final")).to_pydict()
    rows = sorted(zip(final["key"], final["val"], final["txt"]))
    if rows != sorted((k, v, s) for k, (v, s) in table.items()):
        fails.append(f"final table: {len(rows)} rows, replay {len(table)}")
    return fails, {"steps": len(steps), "final_rows": len(table)}


CHECKS = {"kmeans_paper_e2e": kmeans_paper_e2e, "lloyd_large_k": lloyd_large_k,
          "board_read": board_read, "lake_write": lake_write}
