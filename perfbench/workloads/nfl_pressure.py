"""``nfl_pressure``: one full pass of the paper's pipeline, from
parquet to rankings — ``run_relational_pipeline``, its outputs
(metric_eval, epa_comparison, time_to_throw), the linear expected-
metric model, ``attach_expected_metric`` and the four ranking tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics

import duckdb
import pyarrow.parquet as pq

import gen
from harness import expect
from spans import Tracer

NAMES = ("tracking", "plays", "players", "pff_scouting", "epa_pbp")
EVAL = ("by_hurry", "by_hit", "by_sack", "by_pass_result", "by_position",
        "blockers_by_position")
LABEL = {"by_hurry": "pff_hurry", "by_hit": "pff_hit",
         "by_sack": "pff_sack", "by_pass_result": "passResult",
         "by_position": "pff_positionLinedUp",
         "blockers_by_position": "pff_positionLinedUp"}
METRIC = "Percent_to_Pressure_Zone_per_s"
GAMES = 8             # x 30 plays: ~170 k tracking rows
WARMUP_GAMES = 1      # warm-up input: same plans, a fraction of the rows
WARMUP_PASSES = 2
MIN_ATTEMPTS = 10     # rankings' HAVING threshold at this input size
STAGES = ("build_main_df", "qb_set_point", "pass_rusher_frames",
          "pressure_metric", "finalize_rushers", "outputs")


def _write(g: dict, d: str) -> tuple:
    """Write generated tables as parquet; (dir, truth, props)."""
    os.makedirs(d)
    for name, table in g["tables"].items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    return d, g["truth"], g["props"]


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _digest(res: dict) -> str:
    def norm(v):
        return round(v, 6) if isinstance(v, float) else v
    doc = {k: sorted((tuple(norm(x) for x in r) for r in v), key=repr)
           for k, v in res.items() if isinstance(v, list)}
    return hashlib.sha256(json.dumps(doc, sort_keys=True,
                                     default=str).encode()).hexdigest()


class NflPressure:
    name = "nfl_pressure"
    traced_ops = 1

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed

    def prepare(self, d: str) -> None:
        self.dir, self.truth, self.props = _write(
            gen.nfl_tables(self.seed, n_games=GAMES), d)

    def build(self) -> None:
        pass

    def warmup(self) -> None:
        """Passes over a one-game input of another seed: the JIT and
        Spark's code generation see the measured plans before timing."""
        real = self.dir, self.truth, self.props
        self.dir, self.truth, self.props = _write(
            gen.nfl_tables(self.seed + 1_000_003, n_games=WARMUP_GAMES),
            os.path.join(self.dir, "warmup"))
        try:
            for _ in range(WARMUP_PASSES):
                self.check(-1, self.operate(None, -1, Tracer(False)))
        finally:
            self.dir, self.truth, self.props = real

    def start_phase(self) -> None:
        pass

    def offer(self, i: int):
        return None, self.props["tracking_rows"]

    # ---------------------------------------------------- operation

    def _tables(self) -> dict:
        read = self.spark.read
        return {n: read.parquet(os.path.join(self.dir, f"{n}.parquet"))
                for n in NAMES}

    def operate(self, payload, i: int, tracer) -> dict:
        from big_data_bowl___2023_spark import ml
        from big_data_bowl___2023_spark.pipelines import nfl

        t = self._tables()
        if tracer.enabled:
            out = self._traced_pipeline(t, tracer)
            res = out.pop("materialized")
        else:
            out = nfl.run_relational_pipeline(
                t["tracking"], t["pff_scouting"], t["plays"],
                t["players"], t["epa_pbp"])
            res = self._materialize(out)
        with tracer.span("ml.fit"):
            model = ml.fit_expected_metric_model(
                out["rushers_final"], "linear", use_cv=False)
        with tracer.span("ml.score_rank"):
            res.update(self._rank(out, model, t))
        res["frames"] = {"rushers_final": out["rushers_final"],
                         "pass_blockers": out["pass_blockers"]}
        return res

    def _traced_pipeline(self, t: dict, tr) -> dict:
        """``_relational_pipeline``'s public stages in its order, each
        pinned at its boundary so its span holds its own work."""
        from big_data_bowl___2023_spark.pipelines import nfl
        from big_data_bowl___2023_spark.session import pin

        with tr.span("pipelines.nfl.build_main_df") as sp:
            main_df = pin(nfl.build_main_df(
                t["tracking"], t["pff_scouting"], t["plays"],
                t["players"]), truncate=True)
        sp.rows = main_df.count()
        with tr.span("pipelines.nfl.qb_set_point"):
            start, end = nfl.play_bounds(main_df)
            pa = nfl.play_action_flags(t["pff_scouting"])
            qb_sp = pin(nfl.qb_set_point(main_df, start, end))
        with tr.span("pipelines.nfl.pass_rusher_frames"):
            frames = pin(nfl.pass_rusher_frames(main_df, qb_sp, start,
                                                end))
        with tr.span("pipelines.nfl.pressure_metric"):
            rushers = pin(nfl.pressure_metric(frames))
        with tr.span("pipelines.nfl.finalize_rushers") as sp:
            blockers = nfl.pass_blockers(main_df)
            ol, al = nfl.blocker_counts(main_df)
            final = pin(nfl.finalize_rushers(rushers, ol, al, blockers,
                                             pa), truncate=True)
        sp.rows = final.count()
        with tr.span("pipelines.nfl.outputs"):
            bmetric = nfl.blockers_with_metric(blockers, final)
            out = {"rushers_final": final, "pass_blockers": bmetric,
                   "time_to_throw": nfl.time_to_throw(main_df),
                   "epa_comparison": nfl.epa_comparison(final,
                                                        t["epa_pbp"])}
            out.update(nfl.metric_eval(final, bmetric))
            out["materialized"] = self._materialize(out)
        return out

    @staticmethod
    def _materialize(out: dict) -> dict:
        return {n: _rows(out[n])
                for n in EVAL + ("epa_comparison", "time_to_throw")}

    @staticmethod
    def _rank(out: dict, model, t: dict) -> dict:
        from big_data_bowl___2023_spark.ml import models as ml
        from big_data_bowl___2023_spark.pipelines import nfl

        scored = ml.attach_expected_metric(out["rushers_final"], model,
                                           t["players"], t["plays"])
        blockers = ml.blockers_with_dpzs(out["pass_blockers"], scored,
                                         t["players"])
        return {
            "rusher_rankings": _rows(nfl.rusher_rankings(
                scored, min_attempts=MIN_ATTEMPTS)),
            "team_rush_rankings": _rows(nfl.team_rush_rankings(scored)),
            "blocker_rankings": _rows(nfl.blocker_rankings(
                blockers, min_snaps=MIN_ATTEMPTS)),
            "team_blocker_rankings": _rows(
                nfl.team_blocker_rankings(blockers)),
        }

    # -------------------------------------------------------- checks

    def check(self, i: int, res: dict) -> None:
        """The rusher table holds exactly the generator's blocked
        rushers with their labels; every metric_eval median and count
        matches DuckDB over the same rows; rankings are non-empty."""
        frames = res.pop("frames")
        final = frames["rushers_final"].select(
            "gameId", "playId", "nflId", "pff_hurry", "pff_hit",
            "pff_sack", "passResult", "pff_positionLinedUp",
            METRIC).toPandas()
        blockers = frames["pass_blockers"].select(
            "pff_positionLinedUp", METRIC).toPandas()
        check_outputs(res, final, blockers, self.truth)
        res["digest"] = _digest(res)

    def same_result(self, a: dict, b: dict) -> bool:
        return a.get("digest") == b.get("digest")

    def layers(self, tracer, phase) -> dict:
        out = {f"pipelines.nfl.{s}_s": statistics.mean(
            tracer.per_operation(f"pipelines.nfl.{s}")) for s in STAGES}
        for name in ("ml.fit", "ml.score_rank"):
            out[f"{name}_s"] = statistics.mean(tracer.per_operation(name))
        out["pipelines.nfl.main_df_rows"] = statistics.mean(
            tracer.per_operation("pipelines.nfl.build_main_df", "rows"))
        out["pipelines.nfl.rushers_final_rows"] = statistics.mean(
            tracer.per_operation("pipelines.nfl.finalize_rushers",
                                 "rows"))
        return out


def check_outputs(res: dict, final, blockers, truth: dict) -> None:
    """Compare one pass's collected outputs with references that do
    not use the engine: the generator's ground truth and DuckDB."""
    keys = list(zip(final.gameId, final.playId, final.nflId))
    expect(len(keys) == len(set(keys)), "duplicate rusher rows")
    expect(set(keys) == set(truth["final_rushers"]),
           f"rusher rows {len(keys)} != planted "
           f"{len(truth['final_rushers'])}")
    expect(all(int(h) == truth["hurry"][k]
               for k, h in zip(keys, final.pff_hurry)),
           "hurry labels differ from the planted ones")
    con = duckdb.connect()
    try:
        for name in EVAL:
            src = blockers if name == "blockers_by_position" else final
            label = LABEL[name]
            con.register("t", src[[label, METRIC]])
            ref = {r[0]: (r[1], r[2]) for r in con.execute(
                f'SELECT "{label}", MEDIAN({METRIC}), COUNT(*) '
                f"FROM t GROUP BY 1").fetchall()}
            con.unregister("t")
            got = {r[0]: (r[1], r[2]) for r in res[name]}
            expect(set(got) == set(ref), f"{name}: label sets differ")
            for k, (med, n) in got.items():
                expect(n == ref[k][1], f"{name}[{k}]: count {n} != "
                       f"{ref[k][1]}")
                expect(abs(med - ref[k][0]) < 1e-9,
                       f"{name}[{k}]: median {med} != {ref[k][0]}")
    finally:
        con.close()
    hurry = {r[0]: r[2] for r in res["by_hurry"]}
    planted = sum(truth["hurry"].values())
    expect(hurry.get(1) == planted, f"by_hurry[1] n={hurry.get(1)} != "
           f"planted {planted}")
    for name in ("epa_comparison", "time_to_throw", "rusher_rankings",
                 "team_rush_rankings", "blocker_rankings",
                 "team_blocker_rankings"):
        expect(len(res[name]) > 0, f"{name} is empty")
