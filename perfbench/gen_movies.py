"""Seeded generator for the movies ETL inputs.

Writes the reference's three inputs at its shape:

- ``wikipedia.movies.json``: 7,311 ragged wiki records whose key union
  is 193 keys (core columns, the 20 alt-title keys, the raw-name
  variants, the TV-series key and >90%-null junk keys);
- ``movies_metadata.csv``: 45,454 Kaggle rows that pass the adult
  filter, plus planted ``adult=True`` and corrupt (shifted) rows;
- ``ratings.csv``: MovieLens-shaped ratings, zipf-skewed over the Kaggle
  ids, with ~5% ids that match no Kaggle row.

The value forms follow FIXTURES.md: list cells, the money, date and
running-time forms, duplicate imdb ids, TV rows, corrupt ``adult``
rows. Row counts after each pipeline step are fixed by construction,
whatever the seed, and returned in ``expected`` so the benchmark can
check the pipeline's outputs against them:

- 7,076 wiki records pass the filter; 7,033 remain after dedup;
- 6,053 of them share an imdb id with a Kaggle row; one of those is a
  planted bad-merge outlier, so 6,052 merged movies remain;
- ``matched_ratings`` ratings point at a merged movie.

The same seed and rating count give byte-identical files.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

N_WIKI = 7_311
N_WIKI_FILTERED = 235  # no director, no imdb link, or a TV series
N_WIKI_DUPLICATES = 43  # reuse the imdb id of an earlier kept record
N_KAGGLE = 45_454  # rows that pass the adult filter
N_KAGGLE_ADULT = 9
N_KAGGLE_CORRUPT = 3
N_MATCHED = 6_053  # kept wiki ids that also appear in Kaggle
N_WIKI_KEYS = 193

ALT_TITLE_KEYS = [
    "Also known as", "Arabic", "Cantonese", "Chinese", "French",
    "Hangul", "Hebrew", "Hepburn", "Japanese", "Literally",
    "Mandarin", "McCune–Reischauer", "Original title", "Polish",
    "Revised Romanization", "Romanized", "Russian",
    "Simplified", "Traditional", "Yiddish",
]
RAW_NAME_VARIANTS = [
    "Adaptation by", "Country of origin", "Distributed by", "Edited by",
    "Length", "Original release", "Music by", "Produced by", "Producer",
    "Productioncompanies ", "Productioncompany ", "Released",
    "Screen story by", "Screenplay by", "Story by",
    "Theme music composer", "Written by",
]
# core key -> share of records carrying it (all well above the 10%
# the null-pruning rule needs, so the kept column set is seed-independent)
CORE_KEYS = {
    "Box office": 0.70, "Budget": 0.60, "Release date": 0.95,
    "Running time": 0.92, "Language": 0.85, "Starring": 0.90,
    "Producer(s)": 0.75, "Writer(s)": 0.70, "Composer(s)": 0.55,
    "Editor(s)": 0.55, "Cinematography": 0.60, "Distributor": 0.80,
    "Country": 0.85, "Production company(s)": 0.60, "Based on": 0.35,
}
BASE_KEYS = ["url", "year", "imdb_link", "title", "Directed by", "Director",
             "No. of episodes"]
N_JUNK = (N_WIKI_KEYS - len(BASE_KEYS) - len(CORE_KEYS) - len(ALT_TITLE_KEYS)
          - len(RAW_NAME_VARIANTS))
JUNK_KEYS = [f"Field {k:03d}" for k in range(N_JUNK)]
# raw keys whose value replaces "Release date" in the pipeline, as in the
# reference's column renames
RELEASE_OVERRIDES = {"Released", "Release Date", "Original release"}

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
WORDS = ["Night", "Day", "Return", "Last", "First", "Dark", "Star", "River",
         "King", "Queen", "Ghost", "City", "Love", "War", "Secret", "Home",
         "Storm", "Road", "Blue", "Iron", "Silent", "Golden", "Lost", "Wild"]
LANGS = ["en"] * 12 + ["fr", "de", "es", "ja", "it", "ru", "zh", "ko"]
KAGGLE_COLUMNS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview",
    "popularity", "poster_path", "production_companies",
    "production_countries", "release_date", "revenue", "runtime",
    "spoken_languages", "status", "tagline", "title", "video",
    "vote_average", "vote_count",
]


def _money(r: random.Random):
    form = r.random()
    if form < 0.45:
        return f"${r.randint(1, 900) / 10:.1f} million"
    if form < 0.50:
        return f"${r.randint(10, 29) / 10:.1f} billion"
    if form < 0.70:
        return f"${r.randint(100_000, 900_000_000):,}"
    if form < 0.76:
        lo = r.randint(1, 40)
        return f"${lo}–{lo + r.randint(1, 20)} million"
    if form < 0.82:
        return f"${r.randint(1, 90)}.{r.randint(1, 9)}[{r.randint(1, 9)}] million"
    if form < 0.90:
        return [f"${r.randint(1, 900) / 10:.1f} million", "(US)"]
    return r.choice(["N/A", "£3 million", "¥1.1 billion",
                     "926,423 admissions (France)", "TBA", "8 crore"])


def _release(r: random.Random, year: int):
    form = r.random()
    month, day = r.randint(1, 12), r.randint(1, 28)
    if form < 0.55:
        return f"{MONTHS[month - 1]} {day}, {year}"
    if form < 0.70:
        return f"{year}-{month:02d}-{day:02d}"
    if form < 0.80:
        return f"{MONTHS[month - 1]} {year}"
    if form < 0.88:
        return str(year)
    return [f"{MONTHS[month - 1]} {day}, {year}", f"({r.choice(['US', 'UK'])})"]


def _running(r: random.Random):
    form = r.random()
    if form < 0.95:
        return f"{r.randint(70, 180)} minutes"
    return r.choice([f"{r.randint(1, 2)} h {r.randint(0, 59)} min",
                     f"1 hr {r.randint(10, 59)}", f"{r.randint(80, 150)} min",
                     "varies", [f"{r.randint(80, 150)} minutes"]])


def _people(r: random.Random, role: str):
    if r.random() < 0.3:
        return [f"{role} {r.randint(1, 5000)}" for _ in range(r.randint(2, 4))]
    return f"{role} {r.randint(1, 5000)}"


def _imdb(n: int) -> str:
    return f"tt{n:07d}"


def _wiki_records(r: random.Random, ids: list[int], new_id) -> tuple[list[dict], dict]:
    """7,311 records. ``ids`` are the imdb numbers of the kept records;
    the returned map gives each kept id its parsed wiki release year."""
    n_kept_unique = N_WIKI - N_WIKI_FILTERED - N_WIKI_DUPLICATES
    roles = (["filtered"] * N_WIKI_FILTERED + ["duplicate"] * N_WIKI_DUPLICATES
             + ["kept"] * n_kept_unique)
    r.shuffle(roles)
    # a duplicate must follow the record it copies, so the first record is kept
    first_kept = roles.index("kept")
    roles[0], roles[first_kept] = roles[first_kept], roles[0]
    records, kept_ids, kept = [], [], []
    next_kept = iter(ids)
    for i, role in enumerate(roles):
        year = r.randint(1990, 2018)
        rec: dict = {
            "url": f"https://en.wikipedia.org/wiki/Film_{i:05d}",
            "year": float(year),
            "title": f"{r.choice(WORDS)} {r.choice(WORDS)} {i}",
        }
        if role == "duplicate":
            imdb = r.choice(kept_ids)
        elif role == "kept":
            imdb = next(next_kept)
            kept_ids.append(imdb)
        else:
            imdb = new_id()
        rec["imdb_link"] = f"https://www.imdb.com/title/{_imdb(imdb)}/"
        rec["Director" if r.random() < 0.5 else "Directed by"] = f"Director {r.randint(1, 3000)}"
        if role == "filtered":
            kind = r.randrange(3)
            if kind == 0:
                rec.pop("Director", None)
                rec.pop("Directed by", None)
            elif kind == 1:
                del rec["imdb_link"]
            else:
                rec["No. of episodes"] = r.randint(6, 60)
        for key, share in CORE_KEYS.items():
            if r.random() >= share:
                continue
            if key in ("Box office", "Budget"):
                rec[key] = _money(r)
            elif key == "Release date":
                rec[key] = _release(r, year)
            elif key == "Running time":
                rec[key] = _running(r)
            elif key == "Language":
                rec[key] = "English" if r.random() < 0.8 else ["English", "Spanish"]
            else:
                rec[key] = _people(r, key.split("(")[0].strip())
        for key in ALT_TITLE_KEYS:
            if r.random() < 0.02:
                rec[key] = f"{key} title {i}"
        for key in RAW_NAME_VARIANTS:
            if r.random() < 0.03:
                rec[key] = f"{key.strip()} {r.randint(1, 999)}"
        for key in JUNK_KEYS:
            if r.random() < 0.01:
                rec[key] = f"junk {r.randint(1, 99)}"
        if role == "kept":
            kept.append((rec, imdb, year))
        records.append(rec)
    # every key of the union appears at least once
    present = set().union(*records)
    for n, key in enumerate(k for k in BASE_KEYS + list(CORE_KEYS) + ALT_TITLE_KEYS
                            + RAW_NAME_VARIANTS + JUNK_KEYS if k not in present):
        records[n][key] = f"{key.strip()} 0"
    # the planted outlier needs a wiki date the pipeline parses: a plain
    # "Release date" string that no override key replaces
    release_year = {imdb: year for rec, imdb, year in kept
                    if isinstance(rec.get("Release date"), str)
                    and not RELEASE_OVERRIDES & rec.keys()}
    return records, release_year


def _kaggle_row(r: random.Random, kid: int, imdb: int, year: int, adult: str) -> list[str]:
    title = f"{r.choice(WORDS)} {r.choice(WORDS)}"
    zero = r.random()
    return [
        adult,
        "" if r.random() < 0.9 else f"{{'id': {r.randint(1, 9999)}, 'name': '{title} Collection'}}",
        "0" if zero < 0.05 else str(r.randint(1, 300) * 100_000),
        "[{'id': 18, 'name': 'Drama'}, {'id': 35, 'name': 'Comedy'}]" if r.random() < 0.5 else "[]",
        "" if r.random() < 0.8 else f"http://www.example.com/film{kid}",
        str(kid),
        _imdb(imdb),
        r.choice(LANGS),
        title if r.random() < 0.95 else f"{title} (original)",
        f"A story about {title.lower()}, told slowly.",
        f"{r.random() * 30:.6f}",
        f"/p{kid}.jpg",
        f"[{{'name': 'Studio {r.randint(1, 800)}', 'id': {r.randint(1, 800)}}}]",
        "[{'iso_3166_1': 'US', 'name': 'United States of America'}]",
        f"{year}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}",
        "0" if 0.05 <= zero < 0.10 else str(r.randint(1, 900) * 1_000_000),
        "0" if 0.10 <= zero < 0.13 else f"{r.randint(70, 180)}.0",
        "[{'iso_639_1': 'en', 'name': 'English'}]",
        "Released",
        "" if r.random() < 0.6 else f"Tagline {kid}",
        title,
        "False" if r.random() < 0.99 else "True",
        f"{r.randint(0, 100) / 10:.1f}",
        str(r.randint(0, 10_000)),
    ]


def generate(out_dir: str, seed: int, n_ratings: int) -> dict:
    """Write the three inputs under ``out_dir``; return the paths and
    the row counts the pipeline must produce from them."""
    import csv

    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(seed)
    rng = np.random.default_rng(seed)

    pool = r.sample(range(1, 9_999_999), N_WIKI + N_KAGGLE + N_KAGGLE_ADULT
                    + N_KAGGLE_CORRUPT)
    spare = iter(pool[N_WIKI:])
    kept_ids = pool[: N_WIKI - N_WIKI_FILTERED - N_WIKI_DUPLICATES]
    filtered_ids = iter(pool[len(kept_ids): N_WIKI])
    wiki, release_year = _wiki_records(r, kept_ids, lambda: next(filtered_ids))

    # one of the matched ids is the bad merge: wiki date after 1996,
    # Kaggle date before 1965 — dropped by the outlier filter
    dated = [i for i in kept_ids if release_year.get(i, 0) > 1996]
    matched = r.sample(kept_ids, N_MATCHED - 1)
    matched_set = set(matched)
    outlier = r.choice([i for i in dated if i not in matched_set])
    kaggle_ids = r.sample(range(2, 500_000), N_KAGGLE + N_KAGGLE_ADULT + N_KAGGLE_CORRUPT)
    rows, merged_kaggle_ids = [], []
    for n, imdb in enumerate(matched + [outlier]):
        # matched Kaggle dates stay after 1965, so only the planted row is an outlier
        year = 1950 if imdb == outlier else r.randint(1966, 2018)
        rows.append(_kaggle_row(r, kaggle_ids[n], imdb, year, "False"))
        if imdb != outlier:
            merged_kaggle_ids.append(kaggle_ids[n])
    for n in range(N_MATCHED, N_KAGGLE):
        rows.append(_kaggle_row(r, kaggle_ids[n], next(spare), r.randint(1915, 2018), "False"))
    for n in range(N_KAGGLE, N_KAGGLE + N_KAGGLE_ADULT):
        rows.append(_kaggle_row(r, kaggle_ids[n], next(spare), r.randint(1970, 2018), "True"))
    for n in range(N_KAGGLE + N_KAGGLE_ADULT, len(kaggle_ids)):
        bad = _kaggle_row(r, kaggle_ids[n], next(spare), 2000, "False")
        # a shifted row: the overview spilled into the following cells
        rows.append([" - Written by Ørnås", bad[9]] + bad[:-2])
    r.shuffle(rows)

    paths = {
        "wiki": os.path.join(out_dir, "wikipedia.movies.json"),
        "kaggle": os.path.join(out_dir, "movies_metadata.csv"),
        "ratings": os.path.join(out_dir, "ratings.csv"),
    }
    with open(paths["wiki"], "w", encoding="utf-8") as fh:
        json.dump(wiki, fh, ensure_ascii=False)
    with open(paths["kaggle"], "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(KAGGLE_COLUMNS)
        w.writerows(rows)

    # ratings: zipf-ranked over the valid Kaggle ids, 5% unmatched ids
    valid = np.array(kaggle_ids[:N_KAGGLE], dtype=np.int64)
    rng.shuffle(valid)
    weight = 1.0 / np.arange(1, N_KAGGLE + 1) ** 0.9
    movie = valid[rng.choice(N_KAGGLE, n_ratings, p=weight / weight.sum())]
    unmatched = rng.random(n_ratings) < 0.05
    movie[unmatched] = rng.integers(600_000, 700_000, int(unmatched.sum()))
    halves = rng.choice(np.arange(1, 11), n_ratings,
                        p=[.01, .03, .02, .07, .05, .2, .12, .27, .08, .15])
    user = rng.integers(1, 270_000, n_ratings)
    ts = rng.integers(946_684_800, 1_514_764_800, n_ratings)
    with open(paths["ratings"], "w", encoding="utf-8") as fh:
        fh.write("userId,movieId,rating,timestamp\n")
        lines = [f"{u},{m},{h / 2:.1f},{t}\n"
                 for u, m, h, t in zip(user.tolist(), movie.tolist(),
                                       halves.tolist(), ts.tolist())]
        fh.write("".join(lines))

    matched_ratings = int(np.isin(movie, np.array(merged_kaggle_ids)).sum())
    return {
        "paths": paths,
        "expected": {
            "wiki_records": N_WIKI,
            "wiki_after_dedup": N_WIKI - N_WIKI_FILTERED - N_WIKI_DUPLICATES,
            "kaggle_rows": len(rows),
            "merged_movies": N_MATCHED - 1,
            "ratings": n_ratings,
            "matched_ratings": matched_ratings,
        },
    }


def _source_digest() -> str:
    """Cache key part: a changed generator never reuses old files."""
    import hashlib

    with open(__file__, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()[:10]


def cached(root: str, seed: int, n_ratings: int) -> dict:
    """Generate once per (seed, rating count) under ``root``; later calls
    reuse the files."""
    out_dir = os.path.join(root, f"movies_s{seed}_r{n_ratings}_{_source_digest()}")
    meta = os.path.join(out_dir, "meta.json")
    if not os.path.exists(meta):
        info = generate(out_dir, seed, n_ratings)
        with open(meta + ".tmp", "w") as fh:
            json.dump(info, fh)
        os.replace(meta + ".tmp", meta)
    with open(meta) as fh:
        return json.load(fh)
