"""The benchmark's workloads: their inputs, operations and output checks.

A workload is a list of named operations that runs as one *pass*,
plus operations timed once per run before the passes (``once_ops``).
``prepare`` makes the seeded inputs and the expected outputs (before
Spark starts); ``seed_state`` writes any state the timed passes start
from, after the warm-up and outside every timed region; ``begin_pass``
picks the warm-up or the timed inputs and resets per-pass state,
outside the timed region; ``run`` executes one operation and returns
its output plus any sub-timings; ``check`` compares that output with
the expectation and returns the problems found (empty = correct).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import pickle
import random
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext

import numpy as np

from perfbench import gen_sgp, gen_star

HERE = os.path.dirname(os.path.abspath(__file__))

#: Registered rows that each have a DuckDB oracle and took under 1 s at
#: sf0.1 in the committed full bench: relational/TPC-H, time series,
#: text, sketch, multimodal decode, and an Arrow pandas-UDF row.
SHORT_ROWS = (
    "q3_top_revenue_orders", "q12_late_priority_counts", "a16_cube_revenue",
    "s5_latest_snapshot", "html_extract_docs", "cms_user_frequencies",
    "image_decode_features", "multimodal_features",
)
#: A fixed-round graph row whose plan build is bound by eager
#: localCheckpoint / isEmpty barriers.
GRAPH_ROWS = ("bfs_hops_users",)


def _expected(kind: str, work: str, *args: str) -> dict:
    out = os.path.join(work, f"expected-{kind}.pkl")
    subprocess.run([sys.executable, os.path.join(HERE, "expected.py"), kind, out, *args],
                   check=True, timeout=170)
    with open(out, "rb") as f:
        return pickle.load(f)


def _norm(v):
    """Arrow fetch values in the shape ``collect()`` gives them."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list) and v and isinstance(v[0], tuple) and len(v[0]) == 2:
        return dict(v)  # map columns arrive as key/value pairs
    return v


def _close_match(scols, srows, dcols, drows, rel=1e-9) -> bool:
    """True when the frames hold the same rows once float cells are
    compared with a relative tolerance: Spark and DuckDB sum doubles in
    different orders, so a rounded float aggregate can differ in its
    last kept digit (seen: 1511198208.38 vs .39 on a16_cube_revenue)."""

    def keyed(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        groups: dict[tuple, list[tuple]] = {}
        for r in rows:
            cells = [r[i] for i in order]
            exact = tuple("<F>" if isinstance(v, float) else str(v) for v in cells)
            groups.setdefault(exact, []).append(tuple(v for v in cells if isinstance(v, float)))
        return {k: sorted(v) for k, v in groups.items()}

    a, b = keyed(scols, srows), keyed(dcols, drows)
    return a.keys() == b.keys() and all(
        len(a[k]) == len(b[k]) and all(
            math.isclose(u, v, rel_tol=rel, abs_tol=rel) or (math.isnan(u) and math.isnan(v))
            for fx, fy in zip(a[k], b[k]) for u, v in zip(fx, fy))
        for k in a)


class QueryWorkload:
    """Registered query rows, each built and fully fetched with
    ``toArrow`` in a seed-fixed order; the warm-up is two full passes."""

    name = "query_mix"
    graph_rows = GRAPH_ROWS
    #: timed passes at least; each row's median then discards one
    #: disturbed sample
    min_passes = 3

    def prepare(self, seed: int, work: str) -> None:
        self.data = os.path.join(work, "star")
        gen_star.write_tables(seed, self.data)
        rows = list(SHORT_ROWS + GRAPH_ROWS)
        random.Random(seed).shuffle(rows)
        self.order = rows
        self.expected = _expected("query", work, self.data, *rows)

    def start(self, spark, tracer=None) -> None:
        from dbt_lakehouse_aws_spark.standard_queries import all_queries

        self.spark, self.tracer = spark, tracer
        self.fns = all_queries()

    def ops(self) -> list[str]:
        return self.order

    def warm_up_ops(self) -> list[str]:
        # two passes: the second is still 10-20 % slower than the fifth
        # (JIT tiers settle over several passes), the first 3x slower
        return self.order * 2

    def once_ops(self) -> list[str]:
        return []

    def seed_state(self) -> None:
        pass

    def begin_pass(self, warm: bool) -> None:
        pass

    def run(self, op: str):
        """Build the row's DataFrame (the callable, with any jobs it
        launches eagerly), then fetch all of it."""
        tr = self.tracer
        if tr is None:
            t0 = time.perf_counter()
            df = self.fns[op](self.spark, self.data)
            build = time.perf_counter() - t0
            return df.toArrow(), {"build": build}
        from perfbench.trace import planning_phases

        with tr.span("query.build") as b:
            df = self.fns[op](self.spark, self.data)
        with tr.span("exec.fetch") as rec:
            table = df.toArrow()
        rec.update(rows=table.num_rows, bytes=table.nbytes, phases=planning_phases(df))
        return table, {"build": b["end"] - b["start"]}

    def check(self, op: str, table) -> list[str]:
        from dbt_lakehouse_aws_spark.oracle import compare_frames

        dcols, drows = self.expected[op]
        if dcols is None:
            return [f"oracle error: {drows}"]
        scols = [c.lower() for c in table.column_names]
        srows = [tuple(_norm(v) for v in r.values()) for r in table.to_pylist()]
        drows = [tuple(_norm(v) for v in r) for r in drows]
        problems = compare_frames(scols, srows, dcols, drows)
        if problems and problems[0].startswith("value mismatch") and _close_match(
                scols, srows, dcols, drows):
            return []  # float cells differ only in summation order
        return problems


class DraftDayWorkload:
    """A full mart build from the raw tree (timed once per run; the
    warm-up builds a small tree and makes one pick on it), then one
    scripted mock draft per pass:
    each pick is one refresh (the app's serving reads) and one board
    write. Every pass starts from the same mid-draft board, restored
    outside the timed region, so the board's size follows the same
    path in every pass whatever the run length."""

    name = "draft_day"
    #: one timed mock draft, after the one timed build: writing the
    #: seeded board leaves the run no time for a second
    min_passes = 1
    PICKS = 3
    PAGE = 25
    POSITIONS = ("OF", "SS", "P", "C", "2B", "1B", "3B", "UT")

    #: player counts of the tree the warm-up builds: the same plans as
    #: the full tree at a fraction of its cold-start cost
    WARM_TREE = (150, 120)
    #: the timed picks start after this many rounds of a draft in a
    #: league of this many teams (the leagues' standings files have
    #: 12 and 15 teams); the board is written one commit per pick, as
    #: the app writes it, so it holds that many live files
    LEAGUE_TEAMS = 12
    BOARD_ROUNDS = 1

    def prepare(self, seed: int, work: str) -> None:
        self.board_path = os.path.join(work, "board")
        self.seeded_board_path = os.path.join(work, "board-seeded")
        self.trees = {kind: {"raw": os.path.join(work, f"raw-{kind}"),
                             "marts": os.path.join(work, f"marts-{kind}")}
                      for kind in ("warm", "timed")}
        gen_sgp.write_tree(seed, self.trees["warm"]["raw"], *self.WARM_TREE)
        gen_sgp.write_tree(seed, self.trees["timed"]["raw"])
        expected = _expected("draft", work, *(t["raw"] for t in self.trees.values()))
        for kind, tree in self.trees.items():
            tree["expected"] = expected[tree["raw"]]
            mart = tree["expected"]["mart"]
            pool = mart[mart["adp"].notna()].sort_values(["adp", "id"])
            tree["board"], tree["script"] = gen_sgp.draft_script(
                seed, list(zip(pool["id"], pool["name"], pool["adp"])), self.PICKS,
                teams=self.LEAGUE_TEAMS, rounds=self.BOARD_ROUNDS if kind == "timed" else 0)

    def start(self, spark, tracer=None) -> None:
        from dbt_lakehouse_aws_spark.cli import MART_OUTPUTS, load_raw_sources
        from dbt_lakehouse_aws_spark.serving import api
        from dbt_lakehouse_aws_spark.sgp.config import OC
        from dbt_lakehouse_aws_spark.sgp.pipeline import run_pipeline

        self.spark, self.tracer = spark, tracer
        self.api, self.cfg = api, OC
        self.load_raw_sources, self.run_pipeline, self.mart_outputs = (
            load_raw_sources, run_pipeline, MART_OUTPUTS)

    def ops(self) -> list[str]:
        return [f"pick{k + 1:02d}" for k in range(self.PICKS)]

    def warm_up_ops(self) -> list[str]:
        return ["build", "pick01"]

    def once_ops(self) -> list[str]:
        return ["build"]

    def seed_state(self) -> None:
        """Write the timed passes' mid-draft board, one ``put`` per pick."""
        board = self.api.DurableDraftBoard(self.spark, self.seeded_board_path)
        for _, pid, name, mine in self.trees["timed"]["board"]:
            board.put(pid, name, my_team=mine)

    def begin_pass(self, warm: bool) -> None:
        """Select the tree and restore its board (the warm-up's is empty)."""
        tree = self.trees["warm" if warm else "timed"]
        self.raw, self.marts, self.expected, self.script = (
            tree["raw"], tree["marts"], tree["expected"], tree["script"])
        shutil.rmtree(self.board_path, ignore_errors=True)
        if tree["board"]:  # the manifests name data files relative to the table
            shutil.copytree(self.seeded_board_path, self.board_path)
        self.board = self.api.DurableDraftBoard(self.spark, self.board_path)
        self.replay: dict[str, tuple[str, bool]] = {
            pid: (name, mine) for _, pid, name, mine in tree["board"]}

    # -- operations ----------------------------------------------------

    def run(self, op: str):
        if op == "build":
            t0 = time.perf_counter()
            self._build()
            return None, {"build": time.perf_counter() - t0}
        k = int(op[4:])
        t0 = time.perf_counter()
        out = self._refresh(k)
        t1 = time.perf_counter()
        self._write(self.script[k - 1])
        return out, {"refresh": t1 - t0, "write": time.perf_counter() - t1}

    def _span(self, name):
        return nullcontext({}) if self.tracer is None else self.tracer.span(name)

    def _build(self) -> None:
        """Raw tree -> sources -> model DAG -> marts written, as ``cli run`` does."""
        sources = self.load_raw_sources(self.spark, self.raw)
        out = self.run_pipeline(self.cfg, sources, materialize="checkpoint")
        for mart in self.mart_outputs:
            path = f"{self.marts}/{self.cfg.name}/{mart}"
            with self._span("sgp.write") as rec:
                out[mart].write.mode("overwrite").parquet(path)
            if self.tracer is not None:
                rec["bytes"] = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))

    def _fetch(self, df):
        if self.tracer is None:
            return df.toPandas()
        from perfbench.trace import planning_phases

        with self.tracer.span("serving.api.fetch") as rec:
            pdf = df.toPandas()
        rec.update(rows=len(pdf), bytes=int(pdf.memory_usage(deep=True).sum()),
                   phases=planning_phases(df))
        return pdf

    def _refresh(self, k: int):
        """The board page with draft-status flags for one position, and
        the undrafted pool's pick probabilities."""
        api, board = self.api, self.board
        mart = self.spark.read.parquet(f"{self.marts}/{self.cfg.name}/overall_rankings")
        scan = api.rankings_scan(mart)
        position = self.POSITIONS[(k - 1) % len(self.POSITIONS)]
        page = self._fetch(
            api.with_draft_status(api.apply_filters(scan, positions=[position]), board)
            .limit(self.PAGE))
        pool = self._fetch(
            api.pick_probabilities(
                api.apply_filters(api.undrafted_pool(scan, board), require_adp=True),
                current_pick=k,
            ).select("id", "pick_prob"))
        return position, k, page, pool

    def _write(self, step) -> None:
        if step[0] == "put":
            _, pid, name, mine = step
            self.board.put(pid, name, my_team=mine)
        else:
            self.board.delete(step[1])

    # -- checks (outside the timed region) -----------------------------

    def check(self, op: str, out) -> list[str]:
        if op == "build":
            return self._check_marts()
        problems = self._check_refresh(*out)
        step = self.script[int(op[4:]) - 1]
        if step[0] == "put":
            self.replay[step[1]] = (step[2], step[3])
        else:
            self.replay.pop(step[1], None)
        if op == self.ops()[-1]:
            got = {r["player_id"]: (r["player_name"], r["drafted_to_my_team"], r["drafted"])
                   for r in self.board.scan()}
            want = {p: (n, m, True) for p, (n, m) in self.replay.items()}
            if got != want:
                problems.append(f"final board {got} != replay {want}")
        return problems

    def _check_marts(self) -> list[str]:
        """The written marts against the engine's pandas SGP oracle, with
        the tolerances of the SGP pipeline tests."""
        import pyarrow.parquet as pq

        base = f"{self.marts}/{self.cfg.name}"
        self.mart_pd = pq.read_table(f"{base}/overall_rankings").to_pandas()
        g = self.mart_pd.set_index("id").sort_index()
        w = self.expected["mart"].set_index("id").sort_index()
        if not g.index.equals(w.index):
            return [f"mart ids: {len(g)} rows vs oracle {len(w)}"]
        problems = []
        if not (g["rank"] == w["rank"]).all():
            problems.append("mart rank differs")
        if not np.allclose(g["value"], w["value"], rtol=1e-9):
            problems.append("mart value differs")
        if not g["adp"].isna().equals(w["adp"].isna()):
            problems.append("mart adp nulls differ")
        mask = ~g["adp"].isna()
        if not np.allclose(g.loc[mask, "rank_diff"], w.loc[mask, "rank_diff"], rtol=1e-9):
            problems.append("mart rank_diff differs")
        status = [f["projected_opening_day_status"].fillna("<N>") for f in (g, w)]
        if not (status[0] == status[1]).all():
            problems.append("mart roster status differs")
        fac = pq.read_table(f"{base}/factors_wide").to_pandas().sort_values("_filename")
        want = self.expected["factors"].sort_values("_filename")
        if list(fac["_filename"]) != list(want["_filename"]):
            problems.append("factor files differ")
        else:
            for c in [c for c in want.columns if c.startswith("sgp_")]:
                if not np.allclose(fac[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-9):
                    problems.append(f"factor {c} differs")
        return problems

    def _check_refresh(self, position, k, page, pool) -> list[str]:
        """Pandas replay of the serving reads over the written mart and
        the replayed board."""
        m = self.mart_pd
        drafted = set(self.replay)
        mine = {p for p, (_, my) in self.replay.items() if my}
        problems = []
        want = m[m["pos"].str.split(",").apply(lambda xs: position in xs)].sort_values("rank")
        want_ids = list(want["id"].head(self.PAGE))
        if list(page["id"]) != want_ids:
            problems.append(f"page ids differ for {position}")
        elif list(page["drafted"]) != [i in drafted for i in want_ids] or list(
                page["my_team"]) != [i in mine for i in want_ids]:
            problems.append("page draft flags differ")
        cand = m[~m["id"].isin(drafted) & m["adp"].notna() & m["min_pick"].notna()
                 & m["max_pick"].notna()]
        want_p = _pick_probabilities(cand, k)
        got_p = pool.set_index("id")["pick_prob"].sort_index()
        if not got_p.index.equals(want_p.index):
            extra = sorted(set(got_p.index) ^ set(want_p.index))[:5]
            problems.append(f"pick pool differs: {len(got_p)} vs {len(want_p)} rows, {extra}")
        elif not np.allclose(got_p, want_p, rtol=1e-9, atol=1e-15):
            problems.append("pick probabilities differ")
        return problems


def _pick_probabilities(df, current_pick: int):
    """Replay of the serving pick-probability model, indexed by id."""
    pick = float(current_pick)
    std = np.maximum((df["max_pick"] - df["min_pick"]) / 3.0, 3.0)
    base = np.exp(-0.5 * ((pick - df["adp"]) / std) ** 2)
    before = df["min_pick"] - pick
    overdue = pick - df["max_pick"]
    prob = np.select(
        [(before > 0) & (before <= 2), before > 2, overdue > 0, pick >= df["max_pick"] - 2],
        [base * 0.1, 0.0001, base * (1 + overdue * 2) * 10,
         base * (1 + (2 - (df["max_pick"] - pick)) * 0.5)],
        default=base,
    )
    return df.assign(pick_prob=prob / prob.sum()).set_index("id")["pick_prob"].sort_index()


WORKLOADS = {w.name: w for w in (QueryWorkload, DraftDayWorkload)}
