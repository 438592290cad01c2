"""The benchmark's phases and the two workloads built from them.

Every phase makes its inputs from the run seed, calls the library only
through its public functions, times each call as an op span, and checks
every output afterwards, outside the timed region.  A check failure or an
exception counts the op as failed; the run goes on.

Phases (see perfbench/README.md for sizes, layers and predictions):

- `dag`: the reference's task-graph demos on `taskgraph.WukongClient`
  (pairwise `operator.add` tree, linear chain, `map` + `gather`), one
  closed loop per pass: submit the whole DAG, then wait for every future.
- `sql`: registry entries over seeded TPC-H-style tables, in a seeded
  order per pass, each checked against its DuckDB oracle.
- `linalg`: seed-generated `BlockMatrix` operands through the fused ops
  (matmul with a Frobenius emit, svd_tall_skinny, svd_compressed,
  tsqr_check).
- `iterative`: driver-sequenced algorithms over materialized state
  (`cholesky_blocked` on a `from_numpy` operand, `mlops.als_fit`).
- `graph`: `operators.graph.pagerank_bucketed` over a seeded graph.

`dag_sql` runs dag, sql and graph; `linalg_iter` runs linalg and
iterative.
"""

from __future__ import annotations

import math
import operator
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


@dataclass
class Op:
    """One unit of work the driver waited for, and whether it was right."""

    name: str
    pass_id: int
    start: float
    end: float
    ok: bool = True
    error: str = ""
    gflop: float = 0.0  # computed from the op's dimensions
    task: bool = False  # a task-graph task: start = ready, end = future done

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class PassStats:
    pass_id: int
    wall: float = 0.0  # summed over the pass's timed sections
    extra: dict = field(default_factory=dict)


class Ctx:
    """What a phase needs from the runner."""

    def __init__(self, spark, tracer, seed: int, nproc: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.nproc = nproc
        self.work = work
        self.ops: list[Op] = []
        self.stats: PassStats | None = None

    def rng(self, *salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *salt])

    @contextmanager
    def timed(self, name: str):
        """A timed section of the current pass: its length adds to the
        pass wall time and it is the parent span of the ops inside."""
        t0 = time.perf_counter()
        with self.tracer.span(name) as sp:
            yield sp
        self.stats.wall += time.perf_counter() - t0

    def op(self, name: str, layer: str, fn, gflop: float = 0.0):
        """Run `fn()` as a timed op; returns (Op, result or None)."""
        with self.tracer.span(name, layer=layer) as sp:
            try:
                out, err = fn(), ""
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        rec = Op(name, self.stats.pass_id, sp.start, sp.end, not err, err, gflop)
        self.ops.append(rec)
        return rec, out

    def check(self, rec: Op, ok_fn) -> None:
        """Apply an output check outside the timed region."""
        if not rec.ok:
            return
        try:
            ok = bool(ok_fn())
            err = "" if ok else "output check failed"
        except Exception as e:  # noqa: BLE001
            ok, err = False, f"check raised {type(e).__name__}: {str(e)[:300]}"
        rec.ok, rec.error = ok, err


def warm_sql(spark, nproc: int) -> None:
    """Set-up warm-up: the session's first SQL job (a shuffle)."""
    spark.range(0, 10000, 1, nproc).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def _import_library(batches):
    import pyarrow as pa

    import wukong_spark.blockmatrix  # noqa: F401
    import wukong_spark.mlops  # noqa: F401

    for rb in batches:
        yield pa.RecordBatch.from_pydict({"id": rb.column("id")})


def warm_workers(spark, nproc: int) -> None:
    """One Arrow job per core, so every fresh Python worker is forked and
    has imported numpy, pandas, pyarrow and the library."""
    spark.range(0, nproc, 1, nproc).mapInArrow(_import_library, "id long").collect()


# ---------------------------------------------------------------------------
# dag: task graphs on the futures API
# ---------------------------------------------------------------------------


class DagPhase:
    name = "dag"

    def __init__(self, smoke: bool):
        self.leaves = 2 if smoke else 4
        self.chain = 2 if smoke else 4
        self.map_n = 2 if smoke else 4

    def prepare(self, ctx: Ctx) -> None:
        pass

    def run(self, ctx: Ctx, pass_id: int) -> None:
        from wukong_spark.taskgraph import Future, WukongClient

        rng = ctx.rng(pass_id, 1)
        pairs = rng.integers(0, 10**6, (self.leaves, 2)).tolist()
        x0 = int(rng.integers(0, 10**6))
        incs = rng.integers(1, 1000, self.chain - 1).tolist()
        xs = rng.integers(-(10**6), 10**6, self.map_n).tolist()
        dups = rng.choice(self.leaves, max(1, self.leaves // 10), replace=False).tolist()
        client = WukongClient(ctx.spark, max_workers=ctx.nproc)
        submit_s: list[float] = []
        ready: dict[int, float] = {}  # leaf/map future id → ready time
        parents: dict[int, list] = {}  # dependent future id → parent futures
        part: dict[int, str] = {}  # future id → "tree" | "chain" | "map"
        futs: dict[int, object] = {}

        def submit(kind: str, fn, *args, pure: bool = True):
            t = time.perf_counter()
            f = client.submit(fn, *args, pure=pure)
            submit_s.append(time.perf_counter() - t)
            if id(f) not in futs:
                futs[id(f)] = f
                part[id(f)] = kind
                deps = [a for a in args if isinstance(a, Future)]
                if deps:
                    parents[id(f)] = deps
                else:
                    ready[id(f)] = time.time()
            return f

        try:
            with ctx.timed("dag") as section:
                with ctx.tracer.span("taskgraph.submit"):
                    leaves = [submit("tree", operator.add, a, b) for a, b in pairs]
                    hits = sum(
                        submit("tree", operator.add, *pairs[i]) is leaves[i] for i in dups
                    )
                    level = leaves
                    while len(level) > 1:
                        level = [
                            submit("tree", operator.add, level[i], level[i + 1])
                            for i in range(0, len(level), 2)
                        ]
                    root = level[0]
                    x = submit("chain", operator.add, x0, 0, pure=False)
                    for k in incs:
                        x = submit("chain", operator.add, x, k, pure=False)
                    t_map = time.time()
                    t = time.perf_counter()
                    mfuts = client.map(operator.neg, xs)
                    submit_s.append(time.perf_counter() - t)
                    for f in mfuts:
                        futs[id(f)], part[id(f)], ready[id(f)] = f, "map", t_map
                done: dict[int, float] = {}
                with ctx.tracer.span("taskgraph.wait"):
                    for f in client.as_completed(list(futs.values())):
                        done[id(f)] = time.time()
        finally:
            client.close()

        # task latency: ready (last parent done, or submit) → future done
        for fid, f in futs.items():
            start = ready.get(fid)
            if start is None:
                start = max(done[id(p)] for p in parents[fid])
            # the job group `_launch` gives each submitted task's Spark job
            attrs = {} if part[fid] == "map" else {"group_prefix": f"wukong-{f.key[:40]}-"}
            ctx.tracer.add("taskgraph.task", start, done[fid], section, part=part[fid], **attrs)
            ctx.ops.append(Op(f"taskgraph.{part[fid]}_task", pass_id, start, done[fid],
                              task=True))
        # each part of the DAG is one op: its first submit → its last future
        # done, correct when no future raised and the result has its closed form
        expected = {"tree": [sum(a + b for a, b in pairs)], "chain": [x0 + sum(incs)],
                    "map": [-v for v in xs]}
        outputs = {"tree": [root], "chain": [x], "map": mfuts}
        for kind, outs in outputs.items():
            mine = [(fid, f) for fid, f in futs.items() if part[fid] == kind]
            start = min(ready[fid] for fid, _ in mine if fid in ready)
            errors = [repr(f.exception()) for _, f in mine if f.exception() is not None]
            rec = Op(f"taskgraph.{kind}", pass_id, start, max(done[fid] for fid, _ in mine),
                     not errors, "; ".join(errors[:3]))
            ctx.ops.append(rec)
            ctx.check(rec, lambda outs=outs, kind=kind:
                      [f.result() for f in outs] == expected[kind])
        ctx.stats.extra.update(submit_ms=1e3 * float(np.mean(submit_s)),
                               memo_hits=hits, memo_dups=len(dups))


# ---------------------------------------------------------------------------
# sql: registry entries against their DuckDB oracles
# ---------------------------------------------------------------------------

SQL_ENTRIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_sessionize_30m",
)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell_eq(a, b) -> bool:
    # dtype-strict: an int never equals a float of the same value
    if isinstance(a, float) or isinstance(b, float):
        if not (isinstance(a, float) and isinstance(b, float)):
            return False
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Exact, order-insensitive comparison (row count, columns, cells)."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        if (a[c].dtype.kind in "iu") != (b[c].dtype.kind in "iu"):
            return False
        if not all(_cell_eq(x, y) for x, y in zip(a[c].tolist(), b[c].tolist())):
            return False
    return True


class SqlPhase:
    name = "sql"

    def __init__(self, smoke: bool):
        self.scale = 0.05 if smoke else 1.0
        self.oracle: dict[str, pd.DataFrame] = {}

    def prepare(self, ctx: Ctx) -> None:
        import duckdb

        from perfbench import datagen
        from wukong_spark.queries import load_all

        self.reg = load_all()
        self.sf_dir = os.path.join(ctx.work, "tables")
        datagen.generate(self.sf_dir, ctx.seed, self.scale)
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for name in SQL_ENTRIES:
                self.oracle[name] = con.execute(self.reg[name].oracle).fetchdf()
        finally:
            con.close()

    def run(self, ctx: Ctx, pass_id: int) -> None:
        order = ctx.rng(pass_id, 2).permutation(len(SQL_ENTRIES))
        results = []
        with ctx.timed("sql"):
            for i in order:
                name = SQL_ENTRIES[i]

                def call(name=name):
                    with ctx.tracer.span("queries.build"):
                        df = self.reg[name].fn(ctx.spark, self.sf_dir)
                    with ctx.tracer.span("queries.exec"):
                        pdf = df.toPandas()
                    _released(ctx)
                    return pdf

                rec, pdf = ctx.op(f"queries.{name}", "queries", call)
                results.append((rec, pdf, name))
        for rec, pdf, name in results:
            ctx.check(rec, lambda pdf=pdf, name=name: frames_equal(pdf, self.oracle[name]))


# ---------------------------------------------------------------------------
# linalg: fused BlockMatrix ops on seed-generated operands
# ---------------------------------------------------------------------------


def _fro_emit():
    return ([("f2", "float64")], lambda bi, bj, blk: (float((blk * blk).sum()),))


class LinalgPhase:
    name = "linalg"

    def __init__(self, smoke: bool):
        s = smoke
        self.gemm = (200, 100) if s else (800, 400)  # n, block
        self.ts = (2000, 20, 500) if s else (8000, 64, 2000)  # rows, cols, block rows
        self.svdc = (200, 50, 5) if s else (800, 200, 5)  # n, block, k
        self.qr = (2048, 16, 512) if s else (8192, 64, 2048)
        self.ref: dict = {}

    def prepare(self, ctx: Ctx) -> None:
        rng = ctx.rng(3)
        self.seeds = {k: int(v) for k, v in zip(("a", "b", "ts", "svdc", "qr"),
                                                rng.integers(1, 2**31 - 1, 5))}

    def _random(self, ctx, shape, block, key):
        from wukong_spark.blockmatrix import BlockMatrix

        with ctx.tracer.span("blockmatrix.random"):
            return BlockMatrix.random(ctx.spark, *shape, *block, seed=self.seeds[key])

    def _reference(self, mats) -> None:
        """Numpy references, once per run (inputs are fixed per seed)."""
        if self.ref:
            return
        a, b, ts, svdc, qr = (m.to_numpy() for m in mats)
        n, bs = self.gemm
        c = a @ b
        g = n // bs
        self.ref["f2"] = {(i, j): float((c[i*bs:(i+1)*bs, j*bs:(j+1)*bs] ** 2).sum())
                          for i in range(g) for j in range(g)}
        self.ref["s_ts"] = np.sqrt(np.clip(np.linalg.eigvalsh(ts.T @ ts)[::-1], 0, None))
        v = np.ones(svdc.shape[1])
        for _ in range(100):  # power iteration: σ1 is far above σ2 here
            v = svdc.T @ (svdc @ v)
            v /= np.linalg.norm(v)
        self.ref["s1_svdc"] = float(np.linalg.norm(svdc @ v))
        self.ref["r_qr"] = np.abs(np.diag(np.linalg.qr(qr, mode="r")))

    def run(self, ctx: Ctx, pass_id: int) -> None:
        n, bs = self.gemm
        m, c, tb = self.ts
        sn, sb, k = self.svdc
        qm, qc, qb = self.qr
        with ctx.timed("linalg"):
            a = self._random(ctx, (n, n), (bs, bs), "a")
            b = self._random(ctx, (n, n), (bs, bs), "b")
            rec_mm, f2 = ctx.op(
                "blockmatrix.matmul", "blockmatrix",
                lambda: a.matmul(b, emit=_fro_emit()).toPandas(), gflop=2 * n**3 / 1e9)
            ts = self._random(ctx, (m, c), (tb, c), "ts")
            rec_ts, s_ts = ctx.op("blockmatrix.svd_tall_skinny", "blockmatrix",
                                  lambda: ts.svd_tall_skinny()[1], gflop=2 * m * c * c / 1e9)
            sv = self._random(ctx, (sn, sn), (sb, sb), "svdc")

            def svdc():
                u, s, _ = sv.svd_compressed(k=k, seed=self.seeds["svdc"], n_iter=0)
                u.release()
                return s

            rec_sc, s_c = ctx.op("blockmatrix.svd_compressed", "blockmatrix", svdc,
                                 gflop=4 * sn * sn * (k + 10) / 1e9)
            q = self._random(ctx, (qm, qc), (qb, qc), "qr")
            rec_qr, qr_out = ctx.op("blockmatrix.tsqr_check", "blockmatrix",
                                    lambda: q.tsqr_check(), gflop=4 * qm * qc * qc / 1e9)
        self._reference((a, b, ts, sv, q))
        ref = self.ref
        ctx.check(rec_mm, lambda: len(f2) == len(ref["f2"]) and all(
            abs(r.f2 - ref["f2"][(r.bi, r.bj)]) <= 1e-9 * ref["f2"][(r.bi, r.bj)]
            for r in f2.itertuples()))
        ctx.check(rec_ts, lambda: np.allclose(s_ts, ref["s_ts"], rtol=0,
                                              atol=1e-8 * ref["s_ts"][0]))
        # randomized SVD without power iterations: Rayleigh-Ritz values never
        # exceed the true ones, and the dominant one (the matrix mean, ~40x
        # the rest) is captured to within a few percent
        s1 = ref["s1_svdc"]
        ctx.check(rec_sc, lambda: len(s_c) == k and 0.9 * s1 <= s_c[0] <= s1 * (1 + 1e-9)
                  and bool(np.all(np.diff(s_c) <= 0)) and s_c[-1] > 0)
        ctx.check(rec_qr, lambda: qr_out[1] < 1e-10 and qr_out[2] < 1e-10 and np.allclose(
            np.abs(np.diag(qr_out[0])), ref["r_qr"], rtol=1e-8))


# ---------------------------------------------------------------------------
# iterative and graph: driver-sequenced algorithms over materialized state
# ---------------------------------------------------------------------------


def _released(ctx: Ctx) -> int:
    """`release_pending()` after an op consumed its result, as a span."""
    from wukong_spark.session import release_pending

    with ctx.tracer.span("session.release_pending"):
        n = release_pending()
    ctx.stats.extra["released"] = ctx.stats.extra.get("released", 0) + n
    return n


class IterativePhase:
    name = "iterative"

    def __init__(self, smoke: bool):
        self.chol = (100, 50) if smoke else (400, 200)  # n, block
        self.als = (40, 20, 1) if smoke else (60, 40, 1)  # users, items, iterations

    def prepare(self, ctx: Ctx) -> None:
        rng = ctx.rng(4)
        n = self.chol[0]
        # Kac-Murdock-Szegő covariance: SPD, condition number ~ 2·length
        rho = math.exp(-1.0 / rng.uniform(10.0, 40.0))
        idx = np.arange(n)
        self.spd = rho ** np.abs(idx[:, None] - idx[None, :])

        nu, ni, _ = self.als
        rank = 3
        uf, vf = rng.standard_normal((nu, rank)), rng.standard_normal((ni, rank))
        rows = []
        for u in range(nu):
            for it in rng.choice(ni, 8, replace=False):
                rows.append((u, int(it), float(uf[u] @ vf[it] + 0.1 * rng.standard_normal())))
        self.ratings = pd.DataFrame(rows, columns=["user_id", "item_id", "rating"])

    def run(self, ctx: Ctx, pass_id: int) -> None:
        from wukong_spark.blockmatrix import BlockMatrix, cholesky_blocked
        from wukong_spark.mlops import als_fit

        spark = ctx.spark
        ratings = spark.createDataFrame(self.ratings).persist()
        ratings.count()
        n, bs = self.chol
        with ctx.timed("iterative"):
            def chol():
                with ctx.tracer.span("blockmatrix.from_numpy"):
                    m = BlockMatrix.from_numpy(spark, self.spd, bs, bs)
                with ctx.tracer.span("blockmatrix.cholesky_blocked"):
                    return cholesky_blocked(m).to_numpy()

            def als():
                objs = als_fit(ratings, n_factors=4, reg=0.1, iters=self.als[2],
                               seed=ctx.seed % 1000)[2]
                _released(ctx)  # the factor checkpoints; objectives are read
                return objs

            rec_ch, l_np = ctx.op("blockmatrix.cholesky", "blockmatrix", chol,
                                  gflop=n**3 / 3 / 1e9)
            rec_als, objs = ctx.op("mlops.als_fit", "mlops", als)
        ratings.unpersist()
        ctx.check(rec_ch, lambda: np.allclose(np.triu(l_np, 1), 0) and
                  float(np.abs(l_np @ l_np.T - self.spd).max()) < 1e-8)
        # each ALS half-step is an exact argmin, so the objective never rises
        ctx.check(rec_als, lambda: len(objs) >= 2 and all(
            b <= a * (1 + 1e-12) for a, b in zip(objs, objs[1:])))


class GraphPhase:
    name = "graph"

    def __init__(self, smoke: bool):
        self.nodes, self.iters = (60, 2) if smoke else (400, 2)

    def prepare(self, ctx: Ctx) -> None:
        rng = ctx.rng(5)
        nn = self.nodes
        ring = {(i, (i + 1) % nn) for i in range(nn)}  # no node without edges
        chords = {tuple(sorted(map(int, rng.choice(nn, 2, replace=False))))
                  for _ in range(3 * nn)}
        und = {tuple(sorted(e)) for e in ring} | chords
        self.edges = pd.DataFrame(sorted(und | {(b, a) for a, b in und}),
                                  columns=["src", "dst"])
        deg = np.bincount(self.edges.src, minlength=nn).astype(float)
        r = np.full(nn, 1.0 / nn)
        for _ in range(self.iters):
            contrib = np.bincount(self.edges.dst, minlength=nn,
                                  weights=r[self.edges.src] / deg[self.edges.src])
            r = 0.15 / nn + 0.85 * contrib
        self.ref = r

    def run(self, ctx: Ctx, pass_id: int) -> None:
        from wukong_spark.operators.graph import pagerank_bucketed

        edges = ctx.spark.createDataFrame(self.edges)
        with ctx.timed("graph"):
            def pagerank():
                ranks = pagerank_bucketed(edges, iters=self.iters,
                                          table="bkt_perfbench_pr", buckets=4)
                pdf = ranks.select("node", "r").toPandas()
                _released(ctx)  # drops the bucketed edge table
                return pdf

            rec, ranks = ctx.op("graph.pagerank_bucketed", "operators.graph", pagerank)

        def ok():
            r = ranks.sort_values("node")
            return (len(r) == self.nodes and abs(r.r.sum() - 1.0) < 1e-9 and
                    np.allclose(r.r.to_numpy(), self.ref, rtol=0, atol=1e-12))

        ctx.check(rec, ok)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

WORKLOADS = {
    # dispatch-bound: many small Spark jobs and plans, no kernel work
    "dag_sql": (DagPhase, SqlPhase, GraphPhase),
    # BLAS inside mapInArrow, then driver-looped checkpointed algorithms
    "linalg_iter": (LinalgPhase, IterativePhase),
}


def phases(workload: str, smoke: bool) -> list:
    return [cls(smoke) for cls in WORKLOADS[workload]]
