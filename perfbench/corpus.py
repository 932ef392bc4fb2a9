"""Seeded synthetic boatrace corpus: daily K (results) and B (program)
files in the official CP932 fixed layout, packed as -lh5- archives,
with a ground-truth manifest.

Every day is generated from ``(seed, day, version)`` alone, so any
slice of the year can be produced without the rest, and a re-published
day (version > 0) repeats the original race card with new payouts.

Shapes follow the parser's record grammar (FIXTURES.md §2) and the
rates of FIXTURES.md §1: 8-18 venues a day (so file sizes vary) x 12
races, 0-3 disqualified lanes in ~5 % of races, 特払い in ~0.4 %,
レース不成立 in ~0.5 %, a single 複勝 payout in ~2 %, and ~1.5k
players drawn with zipf-like reuse. Every week counted from 1 January
holds the same 91 venue-days, so spans of whole weeks hold equal work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from perfbench import lh5

YEAR = 2020   # a leap year: 366 days
VENUES = [
    "桐　生", "戸　田", "江戸川", "平和島", "多摩川", "浜名湖", "蒲　郡", "常　滑",
    "津", "三　国", "びわこ", "住之江", "尼　崎", "鳴　門", "丸　亀", "児　島",
    "宮　島", "徳　山", "下　関", "若　松", "芦　屋", "福　岡", "唐　津", "大　村",
]
EVENTS = [
    "一般競走", "周年記念競走", "企業杯", "新鋭戦", "女子戦", "ルーキーシリーズ",
    "マスターズリーグ", "地区選手権", "日本財団会長杯", "スポーツニッポン杯",
]
WEATHER = ["晴", "曇", "雨", "雪"]
WIND = ["北", "北東", "東", "南東", "南", "南西", "西", "北西", "無風"]
BRANCH = ["東京", "長崎", "福岡", "大阪", "群馬", "埼玉", "静岡", "愛知", "香川", "広島", "山口", "佐賀"]
SURNAMES = "佐藤鈴木高橋田中伊藤渡辺山本中村小林加藤吉田山田松本井上木村林清水山崎森池田"
GIVEN = "雄哉大輔健太翔太拓也直樹和也達也誠一浩二亮介勇気"
CLASSES = ["A1", "A2", "B1", "B2"]
DQ_CODES = ["F", "L0", "S0", "S1", "S2", "K0"]
N_PLAYERS = 1516
# venues per weekday, shuffled per week: days differ in size, every
# week (counted from 1 January) holds the same 91 venue-days
WEEK_VENUES = (8, 10, 12, 13, 14, 16, 18)
KIMARITE = ["逃げ", "差し", "まくり", "まくり差し", "抜き", "恵まれ"]
FW_DIGITS = str.maketrans("0123456789", "０１２３４５６７８９")

TABLES = ("schedule", "result", "odds", "env", "result_ext", "race_meta")


def day_dates() -> list[str]:
    d = dt.date(YEAR, 1, 1)
    out = []
    while d.year == YEAR:
        out.append(d.isoformat())
        d += dt.timedelta(days=1)
    return out


def _players(seed: int) -> list[dict]:
    rng = np.random.default_rng([seed, 0xB0A7])
    ids = rng.choice(np.arange(3000, 5200), size=N_PLAYERS, replace=False)
    out = []
    for pid in ids:
        sur = SURNAMES[2 * rng.integers(len(SURNAMES) // 2):][:2]
        giv = GIVEN[2 * rng.integers(len(GIVEN) // 2):][:2]
        if rng.random() < 0.15:     # three-character names carry padding
            giv = giv[0]
        out.append(
            {
                "id": f"{pid:04d}",
                "k_name": (sur + "　" + giv).ljust(8, "　"),
                "b_name": (sur + giv).ljust(4, "　"),
                "age": int(rng.integers(20, 61)),
                "branch": BRANCH[rng.integers(len(BRANCH))],
                "weight": int(rng.integers(44, 61)),
                "class": CLASSES[rng.integers(4)],
                "natl_win": rng.uniform(1, 9.99),
                "natl_top2": rng.uniform(0, 99.99),
            }
        )
    return out


_PLAYER_CACHE: dict[int, tuple[list[dict], np.ndarray]] = {}


def player_pool(seed: int) -> tuple[list[dict], np.ndarray]:
    """Players and their zipf-like draw weights (cached per seed)."""
    if seed not in _PLAYER_CACHE:
        w = 1.0 / np.arange(1, N_PLAYERS + 1) ** 0.6
        _PLAYER_CACHE[seed] = (_players(seed), w / w.sum())
    return _PLAYER_CACHE[seed]


@dataclass
class Day:
    """One generated day: file texts plus what the parser must extract."""

    date: str
    version: int
    k_text: str
    b_text: str
    counts: dict[str, int]
    race_rows: int
    race_ids: list[str]
    roi: tuple[int, int, int]            # (races, lane-1 wins, win payouts)
    player_stats: dict[str, tuple[int, int, int]] = field(default_factory=dict)

    @property
    def stamp(self) -> str:
        return self.date[2:4] + self.date[5:7] + self.date[8:10]

    def truth(self) -> dict:
        return {
            "date": self.date, "version": self.version, "counts": self.counts,
            "race": self.race_rows, "race_ids": self.race_ids, "roi": list(self.roi),
            "players": {k: list(v) for k, v in self.player_stats.items()},
        }


def generate_day(seed: int, date: str, version: int = 0) -> Day:
    """The K and B files of one day. ``version`` > 0 re-publishes the day
    with the same card and results but new payouts."""
    players, weights = player_pool(seed)
    day_no = dt.date.fromisoformat(date).toordinal()
    rng = np.random.default_rng([seed, day_no])
    pay = np.random.default_rng([seed, day_no, version + 1])
    year_start = dt.date(int(date[:4]), 1, 1).toordinal()
    week, weekday = divmod(day_no - year_start, 7)
    week_rng = np.random.default_rng([seed, year_start, week])
    n_venues = WEEK_VENUES[week_rng.permutation(7)[weekday]]
    venues = sorted(rng.choice(len(VENUES), size=n_venues, replace=False))
    y, m, d = (int(x) for x in date.split("-"))
    k_lines: list[str] = []
    b_lines: list[str] = []
    counts = Counter({t: 0 for t in TABLES})
    race_rows = 0
    race_ids: list[str] = []
    roi_races = roi_hits = roi_paid = 0
    stats: dict[str, list[int]] = {}
    for v in venues:
        venue = VENUES[v]
        event = EVENTS[rng.integers(len(EVENTS))]
        k_lines += [
            f"{v + 1:02d}KBGN",
            " " * 28 + "＊＊＊　競走成績　＊＊＊",
            "",
            " " * 10 + event,
            "",
            f"   第 1日          {y}/{m:2d}/{d:2d}                             ボートレース{venue}",
            "",
        ]
        b_lines += [
            f"{v + 1:02d}BBGN",
            " " * 28 + "＊＊＊　番組表　＊＊＊",
            "",
            " " * 10 + event,
            "",
            f"   第 1日        {str(y).translate(FW_DIGITS)}年{str(m).translate(FW_DIGITS):>3}月"
            f"{str(d).translate(FW_DIGITS):>3}日                  ボートレース{venue}",
            "",
        ]
        cand = rng.choice(N_PLAYERS, size=(12, 12), p=weights)
        for r in range(1, 13):
            race_id = f"{date}{venue}{event}{r}R"
            race_ids.append(race_id)
            lane_players = [players[i] for i in dict.fromkeys(cand[r - 1].tolist())][:6]
            while len(lane_players) < 6:   # rare: fewer than 6 distinct draws
                extra = players[int(rng.integers(N_PLAYERS))]
                if extra not in lane_players:
                    lane_players.append(extra)
            weather = WEATHER[rng.integers(4)]
            wind = WIND[rng.integers(len(WIND))]
            wind_speed = int(rng.integers(0, 11))
            wave = int(rng.integers(0, 16))
            cancelled = rng.random() < 0.005
            n_dq = int(rng.integers(1, 4)) if rng.random() < 0.05 else 0
            order = rng.permutation(6)              # finishing order of lanes
            exhibition = rng.uniform(6.40, 7.20, size=6)
            motors = rng.integers(10, 100, size=6)
            boats = rng.integers(10, 100, size=6)
            # --- B file: the race card ---------------------------------
            b_lines += [
                f"{str(r).translate(FW_DIGITS)}Ｒ  一　般　　　          Ｈ１８００ｍ  電話投票締切予定１０：３５",
                "-" * 79,
            ]
            for lane, p in enumerate(lane_players, start=1):
                local_win = rng.uniform(0, 9.99)
                local_top2 = rng.uniform(0, 99.99)
                m2 = rng.uniform(0, 99.99)
                b2 = rng.uniform(0, 99.99)
                b_lines.append(
                    f"{lane} {p['id']}{p['b_name']}{p['age']:02d}{p['branch']}"
                    f"{p['weight']:02d}{p['class']} {p['natl_win']:4.2f} {p['natl_top2']:5.2f}"
                    f" {local_win:4.2f} {local_top2:5.2f} {motors[lane - 1]:2d} {m2:5.2f}"
                    f" {boats[lane - 1]:2d} {b2:5.2f} 1 2 3"
                )
            b_lines.append("")
            counts["schedule"] += 6
            # --- K file: the result --------------------------------------
            k_lines += [
                f"  {r:2d}R       一　般　　　                 H1800m  {weather}　  風  {wind}　　 "
                f"{wind_speed}m  波　  {wave}cm",
                f"  着 艇 登番 　選　手　名　　ﾓｰﾀｰ ﾎﾞｰﾄ 展示 進入 ｽﾀｰﾄﾀｲﾐﾝｸﾞ ﾚｰｽﾀｲﾑ "
                f"{'' if cancelled else KIMARITE[rng.integers(len(KIMARITE))]}",
                "-" * 79,
            ]
            counts["env"] += 1
            counts["race_meta"] += 1
            counts["odds"] += 1
            if not cancelled:
                dq_lanes = set(order[6 - n_dq:].tolist()) if n_dq else set()
                finishers = [int(l) for l in order if l not in dq_lanes]
                for rank, lane in enumerate(finishers, start=1):
                    p = lane_players[lane]
                    k_lines.append(
                        f"  0{rank}  {lane + 1} {p['id']} {p['k_name']} {motors[lane]:2d}"
                        f" {boats[lane]:4d} {exhibition[lane]:5.2f} {rank:3d}    0.{rank:02d}"
                        f"     1.5{rank}.{rank}"
                    )
                    st = stats.setdefault(p["id"], [0, 0, 0])
                    st[0] += 1
                    st[1] += rank == 1
                    st[2] += rank <= 2
                for lane in sorted(dq_lanes):
                    p = lane_players[lane]
                    code = DQ_CODES[rng.integers(len(DQ_CODES))]
                    k_lines.append(
                        f"  {code:<2}  {lane + 1} {p['id']} {p['k_name']} {motors[lane]:2d}"
                        f" {boats[lane]:4d} {exhibition[lane]:5.2f}   {lane + 1}    0.10"
                        "      .  . "
                    )
                counts["result"] += len(finishers)
                counts["result_ext"] += 6
                race_rows += len(finishers)
                winner = finishers[0]
                hit = winner == 0
                second = finishers[1]
                third = finishers[2]
            k_lines.append("")
            if cancelled:
                k_lines += ["     レース不成立", ""]
                continue
            payouts = (pay.lognormal(7.0, 1.0, size=10).astype(int) + 100).tolist()
            tokubarai = pay.random() < 0.004
            single_place = pay.random() < 0.02
            win_line = (
                f"        単勝     特払い      {payouts[0]:>6}  " if tokubarai
                else f"        単勝     {winner + 1}    {payouts[0]:>9}  "
            )
            place_line = f"        複勝     {winner + 1}    {payouts[1]:>9}  "
            if not single_place:
                place_line += f"{second + 1}    {payouts[2]:>9}  "
            a, b, c = winner + 1, second + 1, third + 1
            lo = sorted((a, b))
            k_lines += [
                win_line,
                place_line,
                f"        ２連単   {a}-{b}    {payouts[3]:>7}  人気     9 ",
                f"        ２連複   {lo[0]}-{lo[1]}    {payouts[4]:>7}  人気     9 ",
                f"        拡連複   {lo[0]}-{lo[1]}    {payouts[5]:>7}  人気     9 ",
                f"                 {min(a, c)}-{max(a, c)}    {payouts[6]:>7}  人気     5 ",
                f"                 {min(b, c)}-{max(b, c)}    {payouts[7]:>7}  人気    13 ",
                f"        ３連単   {a}-{b}-{c}  {payouts[8]:>7}  人気    45 ",
                "        ３連複   {}-{}-{}  {:>7}  人気    11 ".format(*sorted((a, b, c)), payouts[9]),
                "",
            ]
            roi_races += 1
            roi_hits += hit
            if hit and not tokubarai:
                roi_paid += payouts[0]
        k_lines.append(f"{v + 1:02d}KEND")
        b_lines.append(f"{v + 1:02d}BEND")
    return Day(
        date=date,
        version=version,
        k_text="\r\n".join(k_lines) + "\r\n",
        b_text="\r\n".join(b_lines) + "\r\n",
        counts=dict(counts),
        race_rows=race_rows,
        race_ids=race_ids,
        roi=(roi_races, roi_hits, roi_paid),
        player_stats={k: tuple(v) for k, v in stats.items()},
    )


def archive_names_for(date: str) -> tuple[str, str]:
    """Archive file names of a day in the official layout, K then B."""
    return f"K{date}.lzh", f"B{date}.lzh"


def write_day(day: Day, out_dir: str) -> tuple[int, int]:
    """Write the day's two archives; returns (archive bytes, text bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    packed = text = 0
    for kind, body in (("K", day.k_text), ("B", day.b_text)):
        raw = body.encode("cp932")
        blob = lh5.archive(f"{kind}{day.stamp}.TXT", raw)
        name = archive_names_for(day.date)[kind == "B"]
        tmp = os.path.join(out_dir, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, os.path.join(out_dir, name))
        packed += len(blob)
        text += len(raw)
    return packed, text


def _make_day(args: tuple[int, str, int, str]) -> dict:
    seed, date, version, out_dir = args
    day = generate_day(seed, date, version)
    packed, text = write_day(day, out_dir)
    return {**day.truth(), "archive_bytes": packed, "text_bytes": text}


def build(seed: int, dates: list[str], out_dir: str, version: int = 0) -> dict:
    """Generate (or reuse) the archives of ``dates`` under ``out_dir``
    and return the manifest. A finished directory holds manifest.json and
    is reused when it was built for the same seed, version and dates: they
    determine the bytes."""
    path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(path):
        with open(path) as fh:
            manifest = json.load(fh)
        if (manifest["seed"], manifest["version"], sorted(manifest["days"])) == (
                seed, version, sorted(dates)):
            return manifest
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    with ProcessPoolExecutor(max_workers=4) as pool:
        days = list(pool.map(_make_day, [(seed, d, version, out_dir) for d in dates]))
    manifest = {"seed": seed, "version": version, "days": {d["date"]: d for d in days}}
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, path)
    return manifest
