"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its seed: the same seed yields
byte-identical Arrow tables (``table_digest``), and a different seed
yields different rows with the same recorded properties (sizes and
planted shares). Nothing here touches Spark; the workloads write the
tables with pyarrow and read them back through the engine, so the
program under test receives only the generated files.

Planted rows carry their ground truth (``truth``) so the output checks
have a reference that does not come from the engine.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pyarrow as pa

# ------------------------------------------------------------- helpers


def table_digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the Arrow IPC bytes of every table, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


_WS = re.compile(r"\s+", re.ASCII)


def text_fingerprint(text: str) -> str:
    """md5 of the normalized text: lower-case, strip spaces at both
    ends, collapse whitespace runs to one space. Mirrors the engine's
    documented exact-dedup key (``functions.text.fingerprint``) so a
    survivor check can be made without the engine."""
    return hashlib.md5(
        _WS.sub(" ", text.lower().strip(" ")).encode()).hexdigest()


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lower-case words of 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < n:
        size = int(rng.integers(3, 10))
        words["".join(rng.choice(letters, size))] = None
    return np.array(list(words))


class _TextMaker:
    """Zipf-weighted word draws from a seeded vocabulary."""

    def __init__(self, rng: np.random.Generator, n_words: int = 3000):
        self.rng = rng
        self.vocab = _vocab(rng, n_words)
        w = 1.0 / (np.arange(n_words) + 10.0)
        self.cdf = np.cumsum(w / w.sum())
        self.reseed(rng)

    def reseed(self, rng: np.random.Generator) -> None:
        self.rng, self.buf, self.pos = rng, [], 0

    def words(self, n: int) -> list[str]:
        # draws are buffered: one vectorized sample per 64 k words
        if self.pos + n > len(self.buf):
            u = self.rng.random(max(n, 1 << 16))
            idx = np.minimum(np.searchsorted(self.cdf, u),
                             len(self.vocab) - 1)
            self.buf, self.pos = self.vocab[idx].tolist(), 0
        self.pos += n
        return self.buf[self.pos - n:self.pos]

    def lines(self, n_words: int) -> list[str]:
        """``n_words`` words split into lines of 8-25 words."""
        out, left = [], n_words
        while left > 0:
            k = min(left, int(self.rng.integers(8, 26)))
            out.append(" ".join(self.words(k)))
            left -= k
        return out


# ------------------------------------------------------ document text

BENCH_ITEMS = 64
SPAN_WORDS = 12       # planted benchmark span; the engine flags 8-grams


def _bench_items(tm: _TextMaker) -> list[str]:
    return [" ".join(tm.words(int(tm.rng.integers(30, 60))))
            for _ in range(BENCH_ITEMS)]


def _bench_span(tm: _TextMaker, bench: list[str]) -> str:
    words = bench[int(tm.rng.integers(len(bench)))].split(" ")
    start = int(tm.rng.integers(0, len(words) - SPAN_WORDS + 1))
    return " ".join(words[start:start + SPAN_WORDS])


def _base_doc(tm: _TextMaker) -> list[str]:
    return tm.lines(int(tm.rng.integers(40, 151)))


def _gopher_fail(tm: _TextMaker, k: int) -> str:
    """Alternately too short (< 20 words) or symbol-heavy (every
    fourth word starts with '#', over the 10% ceiling)."""
    if k % 2 == 0:
        return " ".join(tm.words(int(tm.rng.integers(5, 16))))
    words = tm.words(int(tm.rng.integers(40, 80)))
    return " ".join("#" + w if i % 4 == 0 else w
                    for i, w in enumerate(words))


def _dup_copy(text: str) -> str:
    """Same fingerprint, different bytes: upper-case the first word."""
    head, _, tail = text.partition(" ")
    return head.upper() + " " + tail


# ----------------------------------------------- stream micro-batches

STREAM_SHARES = {"cross_batch_repeat": 0.10, "within_batch_duplicate": 0.03,
                 "gopher_fail": 0.05, "contaminated": 0.02}


class StreamBatches:
    """Micro-batches for ``stream_ingest``. Batch ``i`` is a pure
    function of (seed, i): its fresh docs come from a generator seeded
    by both, and its cross-batch repeats copy docs of earlier batches
    (batch 0 has none). ``repeats[i]`` holds the planted repeat ids."""

    def __init__(self, seed: int, batch_docs: int = 500,
                 bench: list[str] | None = None):
        self.seed = seed
        self.batch_docs = batch_docs
        tm = _TextMaker(np.random.default_rng([seed, 2]))
        self.bench = _bench_items(tm) if bench is None else bench
        self.vocab_state = tm
        self._texts: list[list[str]] = []
        self.repeats: list[set[int]] = []
        self.contaminated: set[int] = set()
        self.gopher_fail: set[int] = set()

    def bench_table(self) -> pa.Table:
        return pa.table({"bench_id": pa.array(np.arange(BENCH_ITEMS),
                                              pa.int64()),
                         "text": pa.array(self.bench)})

    def batch(self, i: int) -> pa.Table:
        while len(self._texts) <= i:
            self._make(len(self._texts))
        texts = self._texts[i]
        ids = np.arange(i * self.batch_docs,
                        i * self.batch_docs + len(texts), dtype=np.int64)
        return pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array(texts),
                         "source": pa.array([f"b{i}"] * len(texts))})

    def _make(self, i: int) -> None:
        tm = self.vocab_state
        tm.reseed(np.random.default_rng([self.seed, 3, i]))
        nb = self.batch_docs
        n = {k: int(round(v * nb)) for k, v in STREAM_SHARES.items()}
        if i == 0:
            n["cross_batch_repeat"] = 0
        base = nb - n["cross_batch_repeat"] - n["within_batch_duplicate"]
        first = i * nb
        texts = []
        for j in range(base):
            if j < n["gopher_fail"]:
                texts.append(_gopher_fail(tm, j))
                self.gopher_fail.add(first + j)
                continue
            lines = _base_doc(tm)
            if j < n["gopher_fail"] + n["contaminated"]:
                lines[0] += " " + _bench_span(tm, self.bench)
                self.contaminated.add(first + j)
            texts.append("\n".join(lines))
        dup_src = tm.rng.choice(base, n["within_batch_duplicate"])
        texts += [_dup_copy(texts[int(j)]) for j in dup_src]
        rep = set()
        if n["cross_batch_repeat"]:
            earlier = i * nb
            for j in tm.rng.choice(earlier, n["cross_batch_repeat"],
                                   replace=False):
                b, k = divmod(int(j), nb)     # every batch holds nb docs
                rep.add(first + len(texts))
                texts.append(self._texts[b][k])
        self._texts.append(texts)
        self.repeats.append(rep)

    def props(self) -> dict:
        return {"batch_docs": self.batch_docs,
                "bench_items": BENCH_ITEMS,
                **{f"{k}_share": v for k, v in STREAM_SHARES.items()}}


# ------------------------------------------------ hybrid serving corpus

def _centers(rng: np.random.Generator, k: int, dim: int,
             planes: np.ndarray, margin: float) -> np.ndarray:
    """Cluster centers whose projection on every index hyperplane is
    at least ``margin`` from zero, so a tight cluster sits inside one
    index cell."""
    out = []
    while len(out) < k:
        c = rng.normal(0.0, 1.0, dim)
        if np.all(np.abs(planes @ c) >= margin):
            out.append(c)
    return np.array(out)


def index_planes(dim: int = 64, n_planes: int = 3) -> np.ndarray:
    """The ±1 Walsh-style hyperplanes the ANN index partitions on
    (restated here so the generator does not import the engine)."""
    return np.array([[1.0 if (d // ((2 << i) // 2)) % 2 == 0 else -1.0
                      for d in range(dim)] for i in range(n_planes)])


def hybrid_corpus(seed: int, n_docs: int = 10_000, dim: int = 64,
                  n_clusters: int = 40, n_queries: int = 256) -> dict:
    """Clustered 64-d corpus for ``serve_hybrid``: ``corpus``
    (doc_id, text, embedding) and a held-out ``queries`` pool
    (query_id, query_text, embedding); no query row is a corpus row.
    Each cluster has its own topic words, so the BM25 and dense legs
    agree on the neighbourhood."""
    rng = np.random.default_rng([seed, 4])
    tm = _TextMaker(rng)
    planes = index_planes(dim)
    centers = _centers(rng, n_clusters, dim, planes, margin=4.0)
    topics = [tm.words(12) for _ in range(n_clusters)]

    def draw(n: int) -> tuple[np.ndarray, np.ndarray]:
        cl = rng.integers(0, n_clusters, n)
        vec = centers[cl] + rng.normal(0.0, 0.15, (n, dim))
        return cl, vec.astype(np.float32)

    cl, vec = draw(n_docs)
    texts = []
    for c in cl:
        topic = [topics[c][int(j)] for j in rng.integers(0, 12, 6)]
        texts.append(" ".join(topic + tm.words(int(rng.integers(20, 40)))))
    qcl, qvec = draw(n_queries)
    qtext = [" ".join(topics[c][int(j)] for j in rng.integers(0, 12, 4))
             for c in qcl]
    emb_type = pa.list_(pa.float32())
    corpus = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "embedding": pa.array(list(vec), emb_type)})
    queries = pa.table({
        "query_id": pa.array(np.arange(n_queries) + 10_000_000,
                             pa.int64()),
        "query_text": pa.array(qtext),
        "embedding": pa.array(list(qvec), emb_type)})
    props = {"docs": n_docs, "dim": dim, "clusters": n_clusters,
             "query_pool": n_queries}
    return {"corpus": corpus, "queries": queries, "props": props}


def request_queries(seed: int, request: int, pool: int,
                    per_request: int = 8) -> np.ndarray:
    """Row indexes into the query pool for request ``request``."""
    rng = np.random.default_rng([seed, 5, request])
    return np.sort(rng.choice(pool, per_request, replace=False))


# ----------------------------------------------------- NFL tracking

GAME_IDS = [2021091204, 2021102400]     # the pipeline's outlier games
SNAP_FRAME = 5
QB_Y = 26.65
_SPECIAL_DROPBACKS = {0: "DESIGNED_RUN", 1: "DESIGNED_ROLLOUT_RIGHT",
                      2: "DESIGNED_ROLLOUT_LEFT", 3: "NA", 4: "UNKNOWN",
                      5: None, 6: "SCRAMBLE"}


def _qb_speed(f: np.ndarray, reaccel: bool) -> np.ndarray:
    """The fixture drop-back profile: rise to frame 12, fall to 17,
    an optional second burst at 25-27, then coast."""
    s = np.full(f.shape, 0.2)
    s[f <= SNAP_FRAME] = 0.0
    rise = (f > SNAP_FRAME) & (f <= 12)
    s[rise] = 0.3 * (f[rise] - SNAP_FRAME)
    fall = (f > 12) & (f <= 17)
    s[fall] = np.maximum(2.1 - 0.35 * (f[fall] - 12), 0.2)
    if reaccel:
        for frame, v in ((25, 0.35), (26, 0.60), (27, 0.95)):
            s[f == frame] = v
    return s


def _qb_x(f: np.ndarray) -> np.ndarray:
    return 40.0 - 0.35 * np.clip(f - SNAP_FRAME, 0, 20)


_TRACK_TYPES = {"gameId": pa.int64(), "playId": pa.int64(),
                "nflId": pa.int64(), "frameId": pa.int32(),
                "x": pa.float64(), "y": pa.float64(), "s": pa.float64(),
                "a": pa.float64(), "event": pa.string(),
                "jerseyNumber": pa.int32(), "team": pa.string(),
                "playDirection": pa.string()}


def nfl_tables(seed: int, n_games: int = 32,
               plays_per_game: int = 30) -> dict:
    """NFL-shaped tracking, plays, players, pff_scouting and epa_pbp
    tables with the kinematics of ``pipelines/fixtures.py``, so every
    detector branch fires: QB peak-velocity and re-acceleration set
    points, rushers that reach or stall short of the pressure zone, a
    TE-only-blocked rusher, one idle OL on four-rusher plays, every
    excluded drop-back type, a scramble+play-action play, a penalty
    play and the two literal outlier plays. The seed draws play length
    (40-80 frames), rushers per play (4-6), whether extra rushers
    reach the zone, pass results and labels.

    ``truth["final_rushers"]`` lists the (gameId, playId, nflId) rows
    the rusher table must hold, and ``truth["hurry"]`` their labels."""
    rng = np.random.default_rng([seed, 6])
    cols: dict[str, list] = {k: [] for k in _TRACK_TYPES}
    plays, pff, players, epa = [], [], [], []
    final_rushers, hurry = [], {}

    for g in range(n_games):
        game_id = GAME_IDS[g] if g < len(GAME_IDS) else 2021110000 + g
        team_off, team_def = f"OF{g}", f"DF{g}"
        # player ids are unique across games: a shared id would join
        # one player row to two games' tracking
        qb_id = 100_000 + g * 100
        rushers = [200_000 + g * 100 + k for k in range(6)]
        ols = [300_000 + g * 100 + k for k in range(5)]
        te_id = 400_000 + g
        players.append((qb_id, f"Quinn Back{g}", "QB"))
        players += [(r, f"Rick Rusher{g}{k}", "DE")
                    for k, r in enumerate(rushers)]
        players += [(o, f"Bob Blocker{g}{k}", "T")
                    for k, o in enumerate(ols)]
        players.append((te_id, f"Ted End{g}", "TE"))

        for p in range(plays_per_game):
            play_id = 100 + p * 50
            drop_back = _SPECIAL_DROPBACKS.get(p, "TRADITIONAL")
            foul = qb_id if p == 7 else None
            if p == 8 and g < len(GAME_IDS):
                play_id = (2699, 1191)[g]
            n_frames = int(rng.integers(40, 81))
            end_frame = n_frames - 5
            n_rush = int(rng.integers(4, 7))
            reaccel = p % 2 == 0
            pass_result = str(rng.choice(["C", "I", "S"],
                                         p=[0.6, 0.25, 0.15]))
            plays.append((game_id, play_id, drop_back, pass_result,
                           int(rng.integers(-2, 15)), foul,
                           p % 4 + 1, int(rng.integers(1, 15)),
                           f"({p}) pass short to X.Receiver{p}"))

            rush_pos = ["DRT", "DLT", "LE", "RE", "LOLB", "ROLB"]
            parts = ([(qb_id, "Pass", "QB", team_off)]
                     + [(r, "Pass Rush", rush_pos[k], team_def)
                        for k, r in enumerate(rushers[:n_rush])]
                     + [(o, "Pass Block", ["LT", "LG", "C", "RG", "RT"][k],
                         team_off) for k, o in enumerate(ols)]
                     + [(te_id, "Pass Block", "TE", team_off)])
            blocked = {ols[0]: rushers[0], ols[1]: rushers[1],
                       ols[2]: rushers[2], ols[3]: rushers[2],
                       ols[4]: rushers[4] if n_rush >= 5 else None,
                       te_id: rushers[3]}
            reached = {rushers[0]: True, rushers[1]: True,
                       rushers[2]: False, rushers[3]: False}
            for r in rushers[4:n_rush]:
                reached[r] = bool(rng.random() < 0.5)
            hit_draw = {r: bool(rng.random() < 0.5) for r in reached}

            for nfl_id, role, pos, _team in parts:
                is_rusher = role == "Pass Rush"
                h = int(is_rusher and reached[nfl_id])
                hit = int(h and hit_draw[nfl_id])
                sack = int(h and pass_result == "S")
                pff.append((game_id, play_id, nfl_id, role, pos,
                            hit, h, sack, 0, hit, h, sack,
                            blocked.get(nfl_id),
                            "PA" if (p % 4 == 0 and pos == "TE")
                            else "SW"))

            valid = (drop_back == "TRADITIONAL" and foul is None
                     and not (p == 8 and g < len(GAME_IDS)))
            if valid:
                for r in rushers[:n_rush]:
                    if r in (rushers[0], rushers[1], rushers[2]) or \
                            (r == rushers[4]):
                        final_rushers.append((game_id, play_id, r))
                        hurry[(game_id, play_id, r)] = int(reached[r])

            sp_frame = 24 if reaccel else end_frame - 1
            sp_x = float(_qb_x(np.array([sp_frame]))[0])
            f = np.arange(1, n_frames + 1)
            event = np.full(n_frames, None, dtype=object)
            event[SNAP_FRAME - 1] = "ball_snap"
            event[end_frame - 1] = ("qb_sack" if pass_result == "S"
                                    else "pass_forward")
            if p == 6:
                event[7] = "play_action"
            if p == 0:
                event[8] = "run"
            for nfl_id, role, pos, team in parts:
                if role == "Pass":
                    x, y = _qb_x(f), np.full(n_frames, QB_Y)
                    s = _qb_speed(f, reaccel)
                elif role == "Pass Rush":
                    k = rushers.index(nfl_id)
                    x0, y0 = 46.0 + k, 22.0 + 2 * k
                    cap = 0.95 if reached[nfl_id] else 0.55
                    t = np.minimum(np.clip(f - SNAP_FRAME, 0, None) / 25.0,
                                   cap)
                    x = x0 + t * (sp_x - x0)
                    y = y0 + t * (QB_Y - y0)
                    s = np.where((f > SNAP_FRAME) & (f < 30), 1.5, 0.3)
                else:
                    x = np.full(n_frames, 38.0 + (nfl_id % 7) * 0.5)
                    y = np.full(n_frames, 24.0 + (nfl_id % 5))
                    s = np.full(n_frames, 0.4)
                cols["gameId"].append(np.full(n_frames, game_id))
                cols["playId"].append(np.full(n_frames, play_id))
                cols["nflId"].append(np.full(n_frames, nfl_id))
                cols["frameId"].append(f)
                cols["x"].append(np.round(x, 3))
                cols["y"].append(np.round(y, 3))
                cols["s"].append(np.round(s, 3))
                cols["a"].append(np.full(n_frames, 0.5))
                cols["event"].append(event)
                cols["jerseyNumber"].append(np.full(n_frames, nfl_id % 100))
                cols["team"].append(np.full(n_frames, team, dtype=object))
                cols["playDirection"].append(
                    np.full(n_frames, "left", dtype=object))

            epa.append((play_id, game_id, team_off, team_def,
                        float(rng.normal(0, 1.2)),
                        float(rng.normal(0, 0.05)),
                        float(rng.normal(0, 0.8)),
                        float(rng.normal(0, 0.6)),
                        "REG" if p != 9 else "POST",
                        1 if p != 10 else 0))

    tracking = pa.table({k: pa.array(np.concatenate(v), _TRACK_TYPES[k])
                         for k, v in cols.items()})

    def rows(data, schema):
        return pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in data], schema)

    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    tables = {
        "tracking": tracking,
        "plays": rows(plays, pa.schema([
            ("gameId", i64), ("playId", i64), ("dropBackType", s),
            ("passResult", s), ("playResult", i32), ("foulNFLId1", i64),
            ("down", i32), ("yardsToGo", i32), ("playDescription", s)])),
        "players": rows(players, pa.schema([
            ("nflId", i64), ("displayName", s), ("officialPosition", s)])),
        "pff_scouting": rows(pff, pa.schema([
            ("gameId", i64), ("playId", i64), ("nflId", i64),
            ("pff_role", s), ("pff_positionLinedUp", s), ("pff_hit", i32),
            ("pff_hurry", i32), ("pff_sack", i32),
            ("pff_beatenByDefender", i32), ("pff_hitAllowed", i32),
            ("pff_hurryAllowed", i32), ("pff_sackAllowed", i32),
            ("pff_nflIdBlockedPlayer", i64), ("pff_blockType", s)])),
        "epa_pbp": rows(epa, pa.schema([
            ("play_id", i64), ("old_game_id", i64), ("posteam", s),
            ("defteam", s), ("epa", f64), ("wpa", f64), ("air_epa", f64),
            ("yac_epa", f64), ("season_type", s), ("pass", i32)])),
    }
    props = {"games": n_games, "plays_per_game": plays_per_game,
             "tracking_rows": tracking.num_rows,
             "final_rushers": len(final_rushers)}
    return {"tables": tables,
            "truth": {"final_rushers": final_rushers, "hurry": hurry},
            "props": props}
