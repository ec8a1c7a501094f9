r"""Seeded IMDb raw-dump generator for the ``etl_nightly`` workload.

Writes the 7 raw tables as gzipped, tab-separated text with a header
row and the literal ``\N`` null sentinel, in the FIXTURES.md shapes:
1-3 comma-joined genres, ``\N`` seasons (specials), titles with more
than 3 principals, duplicate and "Oscar"/"Academy Award" akas.

Row counts follow the public dump's proportions per title (movies ~7%,
episodes ~76%, ~6 principals and ~3.8 akas per title, ~1.3 names per
title). ``Dump(seed, n_titles)`` fixes the day-0 base; ``day(d)``
re-draws a seeded share of every table's value columns, so each
nightly op reads a new slice while keys and row counts stay fixed.
"""

from __future__ import annotations

import gzip

import numpy as np
import pandas as pd

N = r"\N"
# Value domains are narrower than the public dump's (which spans ~15
# decades, 28 genres and dozens of seasons): the lake partitions by
# decade x genre and series decade x season, and the write cost per
# partition dominates an op at this row count. These domains keep an
# op to a few seconds: 3 decades x 8 genres, 6 seasons.
YEARS = (2000, 2026)
MAX_SEASON = 6
GENRES = np.array([
    "Action", "Comedy", "Crime", "Documentary", "Drama", "Horror",
    "Romance", "Thriller",
])
TYPES = np.array(["movie", "short", "tvSeries", "tvEpisode", "video"])
TYPE_P = [0.07, 0.09, 0.025, 0.76, 0.055]
CATEGORIES = np.array(["actor", "actress", "director", "writer", "self"])
CATEGORY_P = [0.4, 0.3, 0.1, 0.1, 0.1]
SYLLABLES = np.array(["ka", "lo", "mi", "ra", "ten", "vo", "shi", "an",
                      "del", "ur", "be", "no", "gar", "is", "qu", "ey"])


def _ids(prefix: str, idx: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(idx.astype(str), 7))


def _words(rng: np.random.Generator, n: int, parts: int) -> np.ndarray:
    out = SYLLABLES[rng.integers(0, len(SYLLABLES), n)]
    for _ in range(parts - 1):
        out = np.char.add(out, SYLLABLES[rng.integers(0, len(SYLLABLES), n)])
    return np.char.capitalize(out)


def _nullable(rng: np.random.Generator, vals: np.ndarray, p_null: float) -> np.ndarray:
    vals = vals.astype(object)
    vals[rng.random(len(vals)) < p_null] = N
    return vals


def _genres(rng: np.random.Generator, n: int) -> np.ndarray:
    k = rng.integers(1, 4, n)
    picks = rng.permuted(np.tile(np.arange(len(GENRES)), (n, 1)), axis=1)[:, :3]
    out = np.array([",".join(GENRES[np.sort(p[:j])]) for p, j in zip(picks, k)],
                   dtype=object)
    out[rng.random(n) < 0.05] = N
    return out


class Dump:
    """The day-0 base tables for ``(seed, n_titles)``; ``day(d)`` derives
    day ``d`` from it by re-drawing a ``change_frac`` share of rows."""

    def __init__(self, seed: int, n_titles: int, change_frac: float = 0.03):
        self.seed = seed
        self.change_frac = change_frac
        rng = np.random.default_rng([seed, 0])
        n = n_titles
        tid = np.arange(1, n + 1)
        ttype = TYPES[rng.choice(len(TYPES), n, p=TYPE_P)]
        tconst = _ids("tt", tid)
        n_names = int(n * 1.3)
        nconst = _ids("nm", np.arange(1, n_names + 1))
        self.tables: dict[str, pd.DataFrame] = {}

        start = rng.integers(*YEARS, n)
        self.tables["title_basics"] = pd.DataFrame({
            "tconst": tconst,
            "titleType": ttype,
            "primaryTitle": _words(rng, n, 3),
            "originalTitle": _words(rng, n, 3),
            "startYear": _nullable(rng, start.astype(str), 0.05),
            "endYear": np.where(
                ttype == "tvSeries",
                np.minimum(start + rng.integers(0, 15, n), YEARS[1] - 1).astype(str), N),
            "runtimeMinutes": _nullable(rng, rng.integers(1, 300, n).astype(str), 0.3),
            "genres": _genres(rng, n),
        })

        rated = rng.random(n) < np.where(ttype == "movie", 0.6, 0.15)
        self.tables["title_ratings"] = pd.DataFrame({
            "tconst": tconst[rated],
            "averageRating": np.round(rng.uniform(1.0, 10.0, rated.sum()), 1).astype(str),
            "numVotes": rng.zipf(1.6, rated.sum()).clip(5, 2_000_000).astype(str),
        })

        def people(k: int, p_null: float) -> np.ndarray:
            ids = nconst[rng.integers(0, n_names, (n, k))]
            cnt = rng.integers(1, k + 1, n)
            out = np.array([",".join(r[:c]) for r, c in zip(ids, cnt)], dtype=object)
            out[rng.random(n) < p_null] = N
            return out

        self.tables["title_crew"] = pd.DataFrame({
            "tconst": tconst, "directors": people(2, 0.3), "writers": people(3, 0.5),
        })
        self.tables["name_basics"] = pd.DataFrame({
            "nconst": nconst,
            "primaryName": np.char.add(np.char.add(_words(rng, n_names, 2), " "),
                                       _words(rng, n_names, 3)),
        })

        per = rng.integers(1, 11, n)  # 1..10 credits, mean 5.5: many > 3
        p_t = np.repeat(tconst, per)
        ordering = np.concatenate([np.arange(1, k + 1) for k in per]).astype(str)
        m = len(p_t)
        self.tables["title_principals"] = pd.DataFrame({
            "tconst": p_t,
            "ordering": _nullable(rng, ordering, 0.01),
            "nconst": nconst[rng.integers(0, n_names, m)],
            "category": CATEGORIES[rng.choice(5, m, p=CATEGORY_P)],
        })

        per = rng.poisson(3.8, n)
        a_t = np.repeat(tconst, per)
        m = len(a_t)
        title = _words(rng, m, 3).astype(object)
        bait = rng.random(m)
        title[bait < 0.004] = np.char.add(title[bait < 0.004].astype(str), ": An OSCAR Story")
        title[(bait >= 0.004) & (bait < 0.006)] = "The academy award edition"
        self.tables["title_akas"] = pd.DataFrame({
            "titleId": a_t,
            "title": title,
        })
        dup = rng.random(m) < 0.02  # duplicate aka rows, removed by the ETL's distinct
        self.tables["title_akas"] = pd.concat(
            [self.tables["title_akas"], self.tables["title_akas"][dup]], ignore_index=True)

        eps = tconst[ttype == "tvEpisode"]
        series = tconst[ttype == "tvSeries"]
        k = len(eps)
        self.tables["title_episode"] = pd.DataFrame({
            "tconst": eps,
            "parentTconst": series[rng.integers(0, len(series), k)],
            "seasonNumber": _nullable(rng, rng.integers(1, MAX_SEASON + 1, k).astype(str), 0.05),
            "episodeNumber": _nullable(rng, rng.integers(1, 31, k).astype(str), 0.03),
        })

    # columns re-drawn day over day (keys never change)
    CHANGING = {
        "title_basics": ("runtimeMinutes", "genres"),
        "title_ratings": ("averageRating", "numVotes"),
        "title_crew": ("directors",),
        "name_basics": ("primaryName",),
        "title_principals": ("ordering",),
        "title_akas": ("title",),
        "title_episode": ("episodeNumber",),
    }

    def day(self, d: int) -> dict[str, pd.DataFrame]:
        """Day ``d``'s tables: day 0 is the base; later days shuffle a
        seeded ``change_frac`` share of each changing column among rows,
        so values stay in their domains and the cumulative change grows."""
        if d == 0:
            return self.tables
        rng = np.random.default_rng([self.seed, d])
        out = {}
        for name, df in self.tables.items():
            df = df.copy()
            rows = np.flatnonzero(rng.random(len(df)) < self.change_frac * d)
            for col in self.CHANGING[name]:
                vals = df[col].to_numpy(copy=True)
                vals[rows] = vals[rng.permutation(rows)]
                df[col] = vals
            out[name] = df
        return out

    @staticmethod
    def encode(df: pd.DataFrame) -> bytes:
        """Gzipped TSV bytes, header row first (nulls are already ``\\N``)."""
        cols = [df[c].astype(str).to_numpy() for c in df.columns]
        lines = ["\t".join(df.columns), *map("\t".join, zip(*cols)), ""]
        return gzip.compress("\n".join(lines).encode(), compresslevel=1, mtime=0)
