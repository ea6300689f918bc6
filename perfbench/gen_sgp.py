"""Seeded raw SGP ingest tree and draft script for the draft_day workload.

The tree follows the engine's raw layout
(``<table>/year=YYYY/month=M/day=D/<file>``, all values strings) with
projection files of real size: every projection system covers the
whole player pool. Players, projections, ADP and rosters also carry a
stale ingest date whose rows are perturbed copies plus players the
latest snapshot does not know; a correct build drops all of them.
Standings and the id map exist only at the latest date because the
engine reads their full history.

The latest date and the system and file names are the ones the
engine's pandas SGP oracle reads, so the oracle checks these trees
unchanged. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np

N_HITTERS = 1200
N_PITCHERS = 1000
LATEST = ("2025", "3", "10")
STALE = ("2025", "2", "20")
HIT_SYSTEMS = ("steamer", "atc", "thebat-x", "oopsy", "depthcharts")
PITCH_SYSTEMS = ("steamer", "atc", "thebat", "oopsy", "depthcharts")
STANDINGS_FILES = (
    ("NFBC OC 2025 Overall Standings.csv", 12),
    ("NFBC 50s 2025 Overall Standings.csv", 12),
    ("NFBC ME 2025 Overall Standings.csv", 15),
)
STANDINGS_HEADER = ["rank", "team", "owners", "league", "points", "r", "hr", "rbi",
                    "sb", "ab", "h", "k", "w", "s", "ip", "er", "bb", "ha",
                    "avg", "era", "whip"]
#: value(points) = base + slope * points; ERA/WHIP fall as points rise
SLOPES = {"r": 18.0, "hr": 7.0, "rbi": 16.0, "sb": 5.0, "avg": 0.0021,
          "k": 22.0, "w": 3.0, "s": 9.0, "era": -0.11, "whip": -0.02}
BASES = {"r": 800.0, "hr": 180.0, "rbi": 760.0, "sb": 80.0, "avg": 0.245,
         "k": 1100.0, "w": 70.0, "s": 30.0, "era": 4.6, "whip": 1.38}
POSITIONS = ["C", "1B", "2B", "3B", "SS", "OF", "OF", "OF", "2B,SS", "1B,3B",
             "OF", "UT", "C", "OF", "SS", "OF,UT", "1B", "2B", "3B", "OF"]
HIT_HEADER = ["playerid", "pa", "ab", "h", "x1b", "x2b", "x3b", "r", "hr",
              "rbi", "sb", "bb", "hbp", "avg", "obp", "slg"]
FG_PITCH_HEADER = ["playerid", "ip", "er", "h", "bb", "w", "qs", "so", "sv",
                   "era", "whip", "k_per_9", "bb_per_9"]
RZ_PITCH_HEADER = ["razzid", "ip", "er", "h", "bb", "w", "qs", "k", "sv", "era", "whip"]
STATUSES = ["Starter", "Bench", "IL", "Minors"]


def _write(root, table, date, filename, header, rows, sep=","):
    d = os.path.join(root, table, f"year={date[0]}", f"month={date[1]}", f"day={date[2]}")
    os.makedirs(d, exist_ok=True)
    lines = [sep.join(header)] + [sep.join(str(v) for v in r) for r in rows]
    with open(os.path.join(d, filename), "w") as f:
        f.write("\n".join(lines) + "\n")


def _standings(rng, n_teams: int, slopes: dict[str, float]) -> list[list]:
    """Three leagues; every category is strictly monotone in final
    rank, so category ranks have no ties."""
    rows = []
    for li, league in enumerate(["L1", "L2", "L3"]):
        jitter = int(rng.integers(0, 6)) + 3 * li
        for i in range(1, n_teams + 1):
            pts = (16 if n_teams == 15 else 13) - i
            v = {}
            for cat, slope in slopes.items():
                if cat in ("avg", "era", "whip"):
                    v[cat] = round(BASES[cat] + jitter * 0.001 + slope * pts, 4)
                else:
                    v[cat] = int(round(BASES[cat] + jitter + slope * pts))
            rows.append([i, f"Team {i:02d}", f"Owner {i}", league, float(60 + pts),
                         v["r"], v["hr"], v["rbi"], v["sb"], 6000 + i, 1500 + i,
                         v["k"], v["w"], v["s"], float(1400 + i), 600 - i, 450 + i, 1300 - i,
                         v["avg"], v["era"], v["whip"]])
    return rows


def write_tree(seed: int, root: str, n_hitters: int = N_HITTERS, n_pitchers: int = N_PITCHERS) -> None:
    rng = np.random.default_rng([seed, 0x56F])
    slopes = {c: s * float(rng.uniform(0.9, 1.1)) for c, s in SLOPES.items()}
    for fname, n_teams in STANDINGS_FILES:
        _write(root, "nfbc_standings", LATEST, fname, STANDINGS_HEADER,
               _standings(rng, n_teams, slopes))

    hitters = [str(100001 + i) for i in range(n_hitters)]
    pitchers = [str(200001 + i) for i in range(n_pitchers - 1)] + ["9810"]
    everyone = hitters + pitchers
    roster_pitcher = pitchers[int(rng.integers(0, 50))]  # carries fangraphs id 19755
    fg_id = {p: ("19755" if p == roster_pitcher else f"f{p}") for p in everyone}

    # --- players: latest snapshot; the stale one re-teams everyone and
    # adds unknown ids ---
    pos = {p: POSITIONS[int(rng.integers(0, len(POSITIONS)))] for p in hitters}
    pos.update({p: "P" for p in pitchers})
    team = {p: f"T{int(rng.integers(0, 30)):02d}" for p in everyone}

    def player_rows(team_of):
        out = []
        for p in everyone:
            last, first = ("Plast", "Pfirst") if pos[p] == "P" else ("Last", "First")
            out.append([p, f'"{last}{p}, {first}{p}"', team_of(p), f'"{pos[p]}"'])
        return out

    header = ["id", "players", "team", "pos"]
    _write(root, "nfbc_players", LATEST, "players.csv", header, player_rows(team.get))
    stale = player_rows(lambda p: "XX")
    stale += [[str(900001 + i), f'"Stale{i}, Row{i}"', "XX", '"UT"'] for i in range(40)]
    _write(root, "nfbc_players", STALE, "players.csv", header, stale)

    # --- id map (latest only): ~1/23 all-empty (dropped), ~1/17 fangraphs-only ---
    id_rows = []
    for p in everyone:
        u = rng.random()
        if u < 1 / 23:
            id_rows.append([p, "", "", "", "", ""])
        elif u < 1 / 23 + 1 / 17:
            id_rows.append([p, f"m{p}", fg_id[p], "", "", ""])
        else:
            id_rows.append([p, f"m{p}", fg_id[p], f"u{p}", f"rz{p}", f"b{p}"])
    _write(root, "player_id_map", LATEST, "map.csv",
           ["nfbcid", "mlbid", "idfangraphs", "underdog", "razzballid", "bpid"], id_rows)

    # --- hitting projections: one file per system, every hitter ---
    hit = {}
    for p in hitters:
        pa = int(rng.integers(150, 700))
        ab = int(pa * 0.9)
        h = int(ab * rng.uniform(0.20, 0.31))
        hit[p] = dict(pa=pa, ab=ab, h=h, x1b=int(h * 0.65), x2b=int(h * 0.2), x3b=int(h * 0.03),
                      r=int(rng.integers(20, 115)), hr=int(rng.integers(1, 45)),
                      rbi=int(rng.integers(15, 120)), sb=int(rng.integers(0, 40)),
                      bb=int(pa * 0.09), hbp=int(rng.integers(0, 12)))

    def hit_rows(prefix, jit, scale=1.0):
        rows = []
        for p in hitters:
            b = hit[p]
            f = scale * (1.0 + jit * ((int(p) % 7) - 3) / 100.0)
            rows.append([f"{prefix}{p}", max(1, int(b["pa"] * f))]
                        + [max(0, int(b[c] * f)) for c in HIT_HEADER[2:13]]
                        + [round(b["h"] / b["ab"], 3), round(b["h"] / b["ab"] + 0.07, 3),
                           round(b["h"] / b["ab"] + 0.15, 3)])
        return rows

    def unknown_hitters(prefix):
        return [[f"{prefix}99{i:04d}", 500, 450, 120, 80, 25, 3, 70, 20, 70, 10, 45, 4,
                 0.267, 0.337, 0.417] for i in range(25)]

    table = "fangraphs_projections_preseason_hitting"
    for si, system in enumerate(HIT_SYSTEMS):
        _write(root, table, LATEST, f"{system}-hit.csv", HIT_HEADER, hit_rows("f", si + 1))
        _write(root, table, STALE, f"{system}-hit.csv", HIT_HEADER,
               hit_rows("f", si + 1, scale=1.15) + unknown_hitters("f"))
    rz_header = ["razzid"] + HIT_HEADER[1:]
    table = "razzball_projections_preseason_hitting"
    _write(root, table, LATEST, "razzball-hit.csv", rz_header, hit_rows("rz", 6))
    _write(root, table, STALE, "razzball-hit.csv", rz_header,
           hit_rows("rz", 6, scale=0.85) + unknown_hitters("rz"))

    # --- pitching projections ---
    pit = {}
    for i, p in enumerate(pitchers):
        rp = i % 5 == 4
        ip = float(rng.integers(40, 75) if rp else rng.integers(60, 220))
        pit[p] = dict(ip=ip, er=int(ip * rng.uniform(0.3, 0.55)), h=int(ip * rng.uniform(0.8, 1.1)),
                      bb=int(ip * rng.uniform(0.2, 0.4)), w=int(rng.integers(1, 18)),
                      qs=int(rng.integers(0, 25)), so=int(ip * rng.uniform(0.7, 1.3)),
                      sv=int(rng.integers(5, 45)) if rp else 0)

    def pitch_rows(prefix, jit, scale=1.0):
        rows = []
        for p in pitchers:
            b = pit[p]
            f = scale * (1.0 + jit * ((int(p) % 5) - 2) / 100.0)
            key = fg_id[p] if prefix == "f" else f"{prefix}{p}"
            rows.append([key, round(b["ip"] * f, 1), max(0, int(b["er"] * f)),
                         max(0, int(b["h"] * f)), max(0, int(b["bb"] * f)), b["w"], b["qs"],
                         max(0, int(b["so"] * f)), b["sv"],
                         round(b["er"] * 9 / b["ip"], 2), round((b["h"] + b["bb"]) / b["ip"], 2),
                         round(b["so"] * 9 / b["ip"], 2), round(b["bb"] * 9 / b["ip"], 2)])
        return rows

    def unknown_pitchers(prefix):
        return [[f"{prefix}98{i:04d}", 150.0, 60, 140, 45, 10, 15, 160, 0, 3.6, 1.23, 9.6, 2.7]
                for i in range(25)]

    table = "fangraphs_projections_preseason_pitching"
    for si, system in enumerate(PITCH_SYSTEMS):
        _write(root, table, LATEST, f"{system}-pitch.csv", FG_PITCH_HEADER, pitch_rows("f", si + 1))
        _write(root, table, STALE, f"{system}-pitch.csv", FG_PITCH_HEADER,
               pitch_rows("f", si + 1, scale=1.2) + unknown_pitchers("f"))
    table = "razzball_projections_preseason_pitching"
    _write(root, table, LATEST, "razzball-pitch.csv", RZ_PITCH_HEADER,
           [r[:11] for r in pitch_rows("rz", 6)])
    _write(root, table, STALE, "razzball-pitch.csv", RZ_PITCH_HEADER,
           [r[:11] for r in pitch_rows("rz", 6, scale=0.8) + unknown_pitchers("rz")])

    # --- ADP: two files, each at both dates; 2/3 of players drafted ---
    adp_header = ["playerid", "adp", "min_pick", "max_pick"]
    for fname in ("OC_ADP.tsv", "Fifties_ADP.tsv"):
        order = rng.permutation(len(everyone))[: len(everyone) * 2 // 3]
        rows, stale_rows = [], []
        for j, k in enumerate(order):
            p = everyone[k]
            adp = round(1 + j * 0.5 + float(rng.uniform(0, 0.4)), 1)
            lo = max(1, int(adp * 0.8) - 3)
            rows.append([p, adp, lo, int(adp * 1.2) + 5])
            stale_rows.append([p, round(adp * 0.7 + 3, 1), 1, 2])
        stale_rows += [[str(900001 + i), 1.5 + i, 1, 3] for i in range(40)]
        _write(root, "nfbc_adp", LATEST, fname, adp_header, rows, sep="\t")
        _write(root, "nfbc_adp", STALE, fname, adp_header, stale_rows, sep="\t")

    # --- opening-day rosters; the 19755/SP row is excluded by the mart ---
    roster = [["19755", "SP", "Starter"], ["19755", "RP", "Bench"]]
    others = [p for p in everyone if p != roster_pitcher]
    rosterless = {others[k] for k in rng.choice(len(others), len(others) // 4, replace=False)}
    for p in others:
        if p in rosterless:
            continue
        roster.append([fg_id[p], "P" if pos[p] == "P" else "POS",
                       STATUSES[int(rng.integers(0, 4))]])
    header = ["playerid", "pos", "projected_opening_day_status"]
    _write(root, "fangraphs_rosters", LATEST, "rosters.csv", header, roster)
    _write(root, "fangraphs_rosters", STALE, "rosters.csv", header,
           [[r[0], r[1], "IL"] for r in roster] + [["f990001", "POS", "Starter"]])

    # --- underdog ADP: part of the raw layout; no source reads it ---
    _write(root, "underdog_adp", LATEST, "underdog.csv", ["id", "adp", "projection"],
           [[p, i + 1.5, 10.0] for i, p in enumerate(hitters[:300])])


def draft_script(seed: int, pool: list[tuple[str, str, float]], picks: int, *,
                 teams: int, rounds: int) -> tuple[list[tuple], list[tuple]]:
    """Scripted mock draft over ``pool`` = (id, name, adp) of players
    the mart ranks with an ADP, sorted by ADP.

    Returns ``(board, steps)``. ``board`` is the state the timed picks
    start from: the first ``rounds`` rounds of a ``teams``-team snake
    draft, one ``("put", id, name, my_team)`` per pick, each taking one
    of the four best free players by ADP; ``my_team`` marks the picks
    of one seeded draft slot. ``steps`` are the ``picks`` timed board
    writes on top of it: ``("put", id, name, my_team)`` or
    ``("delete", id)``; every third step undoes the most recent pick."""
    rng = np.random.default_rng([seed, 0xD2AF])
    slot = int(rng.integers(0, 3))
    my_slot = int(rng.integers(0, teams))
    taken: list[str] = []
    names = {i: n for i, n, _ in pool}

    def take(mine: bool) -> tuple:
        free = [i for i, _, _ in pool if i not in taken]
        pid = free[int(rng.integers(0, min(4, len(free))))]
        taken.append(pid)
        return ("put", pid, names[pid], mine)

    def team_of(n: int) -> int:
        rnd, i = divmod(n, teams)
        return i if rnd % 2 == 0 else teams - 1 - i

    board = [take(team_of(n) == my_slot) for n in range(teams * rounds)]
    steps: list[tuple] = []
    for k in range(picks):
        if k % 3 == 2 and len(taken) > len(board):
            steps.append(("delete", taken.pop()))
        else:
            steps.append(take(k % 3 == slot % 3))
    return board, steps
