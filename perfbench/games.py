"""Seeded BGG-shaped games table for the content_logreg workload.

The table has the columns the reference's ``games.csv`` gives
``clean_complete_database``: the junk and constant columns it drops,
zero sentinels for the positive-value filters, nulls for the mean and
mode fills, a pre-1970 tail for the year floor and a few ``NumOwned``
outliers for the IQR filter. The numeric columns are wide uniform ranges,
so the IQR band (k=1, strict bounds, one column after another) keeps every
regular value and removes only the planted outliers: about 80% of the
games survive cleaning. No numeric column is constant: its band would be
empty and remove every game.

``AvgRating`` is each game's mean rating in the ratings corpus, as on BGG,
which gives the content model a signal to learn.
"""

from __future__ import annotations

import numpy as np

SCHEMA = (
    "BGGId int, Name string, Description string, YearPublished int, "
    "GameWeight double, AvgRating double, "
    "MinPlayers int, MaxPlayers int, ComAgeRec double, LanguageEase double, "
    "NumOwned int, NumComments int, MfgPlaytime int, MfgAgeRec int, "
    "Family string, Themes string, Categories string, Mechanics string, "
    "Designers string, Publishers string, Kickstarted int, "
    "`Rank:boardgame` double, `Rank:strategygames` double, IsReimplementation int"
)


def games_rows(seed: int, n_games: int, avg_rating: dict[int, float]) -> list[tuple]:
    """One row per BGGId 0..n_games-1, a pure function of the arguments."""
    rng = np.random.default_rng([seed, 7])

    def ints(lo: int, hi: int, zero_share: float = 0.0) -> list[int | None]:
        v = rng.integers(lo, hi + 1, n_games)
        v[rng.random(n_games) < zero_share] = 0
        return [int(x) for x in v]

    def doubles(lo: float, hi: float, null_share: float = 0.0) -> list[float | None]:
        v = rng.uniform(lo, hi, n_games).round(2)
        nulls = rng.random(n_games) < null_share
        return [None if n else float(x) for x, n in zip(v, nulls)]

    def labels(prefix: str, n: int, null_share: float) -> list[str | None]:
        a, b = rng.integers(0, n, n_games), rng.integers(0, n, n_games)
        pair = rng.random(n_games) < 0.3
        nulls = rng.random(n_games) < null_share
        return [None if z else f"{prefix}{x}, {prefix}{y}" if p and x != y else f"{prefix}{x}"
                for x, y, p, z in zip(a, b, pair, nulls)]

    year = ints(1975, 2022, zero_share=0.03)
    for i in np.flatnonzero(rng.random(n_games) < 0.03):
        year[i] = int(rng.integers(1950, 1971))
    owned = ints(100, 5000)
    for i in np.flatnonzero(rng.random(n_games) < 0.03):
        owned[i] *= 50
    avg = [round(avg_rating.get(g, 7.0), 2) for g in range(n_games)]
    columns = [
        list(range(n_games)),
        [f"Game {g:05d}" for g in range(n_games)],
        ["A game of chance and skill."] * n_games,
        year,
        doubles(1.0, 5.0),
        avg,
        ints(1, 6, zero_share=0.03),
        ints(6, 12),
        doubles(6.0, 16.0, null_share=0.2),
        doubles(1.0, 5.0, null_share=0.2),
        owned,
        [0] * n_games,
        ints(30, 240, zero_share=0.03),
        ints(6, 16, zero_share=0.03),
        labels("Family", 8, null_share=0.5),
        labels("Theme", 12, null_share=0.1),
        labels("Cat", 8, null_share=0.0),
        labels("Mech", 15, null_share=0.1),
        labels("Designer", 60, null_share=0.1),
        labels("Publisher", 30, null_share=0.1),
        ints(0, 1),
        [float(g + 1) for g in range(n_games)],
        [7.0] * n_games,
        ints(0, 1),
    ]
    return list(zip(*columns))
