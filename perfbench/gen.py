"""Seeded input generators for the benchmark.

Two families, both pure functions of the seed (same seed -> same bytes):

* ``kaggle(out_dir, seed, n_movies, ratings_per_movie)`` writes the four
  Kaggle CSVs of "The Movies Dataset" in their real column layout
  (``movies_metadata.csv`` with its 24 columns, ``credits.csv`` as
  ``cast,crew,id``, ``keywords.csv`` as ``id,keywords`` and ``ratings.csv``
  as ``userId,movieId,rating,timestamp``), nested cells as Python literals,
  with the dirty rows the real files carry. Next to them it writes
  ``expected.json``: the row count of each of the 15 snowflake tables the
  import must load, FK pairs, and some per-movie rating averages, all
  computed here by replaying the reference loader's rules.
* ``tables(out_dir, seed, sf)`` writes the ten parquet tables the operator
  registry reads (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``) with the same column types and value domains as the
  project's testdata.
"""
import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MOVIES_COLUMNS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview",
    "popularity", "poster_path", "production_companies",
    "production_countries", "release_date", "revenue", "runtime",
    "spoken_languages", "status", "tagline", "title", "video",
    "vote_average", "vote_count"]
CREDITS_COLUMNS = ["cast", "crew", "id"]
KEYWORDS_COLUMNS = ["id", "keywords"]
RATINGS_COLUMNS = ["userId", "movieId", "rating", "timestamp"]

# The 15 tables of the reference schema, in the sink's write order.
TABLES = [
    "genres", "languages", "collections", "countries",
    "production_companies", "persons", "keywords", "movies",
    "movies_genres", "movies_production_companies", "production_countries",
    "spoken_languages", "movies_keywords", "directors", "actors"]

GENRES = [(28, "Action"), (12, "Adventure"), (16, "Animation"),
          (35, "Comedy"), (80, "Crime"), (99, "Documentary"), (18, "Drama"),
          (10751, "Family"), (14, "Fantasy"), (36, "History"),
          (27, "Horror"), (10402, "Music"), (9648, "Mystery"),
          (10749, "Romance"), (878, "Science Fiction"), (10770, "TV Movie"),
          (53, "Thriller"), (10752, "War"), (37, "Western")]
LANGUAGES = [("en", "English"), ("fr", "Français"), ("de", "Deutsch"),
             ("es", "Español"), ("it", "Italiano"), ("ja", "日本語"),
             ("zh", "普通话"), ("ru", "Pусский"), ("ko", "한국어/조선말"),
             ("pt", "Português"), ("sv", "svenska"), ("hi", "हिन्दी"),
             ("da", "Dansk"), ("pl", "Polski"), ("tr", "Türkçe"),
             ("cs", "Český"), ("nl", "Nederlands"), ("fi", "suomi"),
             ("el", "ελληνικά"), ("he", "עִבְרִית"), ("xx", "No Language")]
COUNTRIES = [("US", "United States of America"), ("GB", "United Kingdom"),
             ("FR", "France"), ("DE", "Germany"), ("IT", "Italy"),
             ("JP", "Japan"), ("CA", "Canada"), ("ES", "Spain"),
             ("IN", "India"), ("CI", "Cote D'Ivoire"),
             ("CN", "China"), ("KR", "South Korea"), ("SE", "Sweden"),
             ("DK", "Denmark"), ("BR", "Brazil"), ("MX", "Mexico"),
             ("RU", "Russia"), ("AU", "Australia"), ("CZ", "Czech Republic"),
             ("TR", "Türkiye")]
WORDS = ["night", "love", "return", "last", "city", "dark", "man",
         "woman", "story", "war", "life", "dream", "king", "blood",
         "summer", "l'amour", "über", "café", "niño", "ghost", "o'clock",
         "rock 'n' roll", "déjà vu", "smörgåsbord", "don't"]
FIRST = ["Tom", "Anna", "José", "Zoë", "Björn", "Seán", "Ōshima", "Marie",
         "Li", "Ngozi", "Pierre", "Dmitri", "Aoife", "Renée", "Ali"]
LAST = ["Hanks", "O'Brien", "Müller", "García", "D'Angelo", "Kurosawa",
        "Smith", "Nguyen", "Dvořák", "O'Hara", "Lefèvre", "Ibsen",
        "Zhang", "Kowalski", "N'Dour"]
JOBS = ["Director", "Screenplay", "Producer", "Editor", "Original Music "
        "Composer", "Director of Photography", "Casting"]


def _title(rng):
    k = int(rng.integers(1, 4))
    return " ".join(WORDS[int(i)] for i in rng.integers(0, len(WORDS), k)).title()


def _person_name(rng):
    return f"{FIRST[int(rng.integers(len(FIRST)))]} {LAST[int(rng.integers(len(LAST)))]}"


def _movie_row(rng, id_cell, n_companies, n_collections):
    """One movies_metadata row (dict keyed by Kaggle column) plus the parsed
    facts the reference loader would extract from it."""
    genres = [GENRES[int(i)] for i in rng.integers(0, len(GENRES), int(rng.integers(0, 4)))]
    if genres and rng.random() < 0.1:
        genres.append(genres[0])  # duplicate genre inside one movie
    coll = None
    if rng.random() < 0.15:
        cid = int(rng.integers(1, n_collections + 1)) * 7 + 10
        coll = {"id": cid, "name": f"{_title(rng)} Collection",
                "poster_path": None if rng.random() < 0.5 else f"/c{cid}.jpg",
                "backdrop_path": None}
    orig = "" if rng.random() < 0.02 else LANGUAGES[int(rng.integers(len(LANGUAGES)))][0]
    spoken = [LANGUAGES[int(i)] for i in rng.integers(0, len(LANGUAGES), int(rng.integers(0, 3)))]
    comps = [int(i) for i in rng.integers(1, n_companies + 1, int(rng.integers(0, 4)))]
    countries = [COUNTRIES[int(i)] for i in rng.integers(0, len(COUNTRIES), int(rng.integers(0, 3)))]
    budget = 0 if rng.random() < 0.6 else int(rng.integers(1, 300)) * 100000
    revenue = 0 if rng.random() < 0.7 else int(rng.integers(1, 900)) * 100000
    year = int(rng.integers(1915, 2018))
    runtime = "" if rng.random() < 0.02 else f"{float(rng.integers(0, 200))}"
    row = {
        "adult": "False",
        "belongs_to_collection": repr(coll) if coll else "",
        "budget": str(budget),
        "genres": repr([{"id": g, "name": n} for g, n in genres]),
        "homepage": "" if rng.random() < 0.8 else "http://example.org/m",
        "id": id_cell,
        "imdb_id": f"tt{int(rng.integers(1, 9999999)):07d}",
        "original_language": orig,
        "original_title": _title(rng),
        "overview": "" if rng.random() < 0.05 else
                    f"A story of {_title(rng).lower()}, and \"{_title(rng)}\" — it's {_title(rng).lower()}.",
        "popularity": f"{float(rng.random() * 30):.6f}" if rng.random() < 0.9 else "0.0",
        "poster_path": f"/p{int(rng.integers(1e9))}.jpg",
        "production_companies": repr([{"name": f"{_title(rng)} Pictures", "id": c} for c in comps]),
        "production_countries": repr([{"iso_3166_1": c, "name": n} for c, n in countries]),
        "release_date": "" if rng.random() < 0.01 else
                        f"{year}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}",
        "revenue": str(revenue),
        "runtime": runtime,
        "spoken_languages": repr([{"iso_639_1": c, "name": n} for c, n in spoken]),
        "status": "Released",
        "tagline": "" if rng.random() < 0.5 else f"{_title(rng)}!",
        "title": _title(rng),
        "video": "False",
        "vote_average": f"{float(rng.integers(0, 100)) / 10}",
        "vote_count": str(int(rng.integers(0, 5000))),
    }
    facts = {
        "genres": [g for g, _ in genres],
        "coll": coll["id"] if coll else None,
        "orig": orig if orig else "nan",
        "spoken": [c for c, _ in spoken],
        "companies": comps,
        "countries": [c for c, _ in countries],
    }
    return row, facts


def _credits_row(rng, id_cell, n_persons, kind):
    """kind: 'full', 'empty' (cast and crew both '[]') or 'jobless' (crew
    entries without a 'job' key, empty cast)."""
    def person():
        pid = int(rng.integers(1, n_persons + 1))
        return pid, f"{_person_name(rng)}"
    cast, crew = [], []
    if kind == "full":
        for order in range(int(rng.integers(0, 12))):
            pid, name = person()
            cast.append({"cast_id": order + 1, "character": f"{_title(rng)}",
                         "credit_id": f"{int(rng.integers(1 << 60)):x}",
                         "gender": int(rng.integers(0, 3)), "id": pid,
                         "name": name, "order": order,
                         "profile_path": None if rng.random() < 0.3 else f"/{pid}.jpg"})
        for _ in range(int(rng.integers(0, 8))):
            pid, name = person()
            e = {"credit_id": f"{int(rng.integers(1 << 60)):x}",
                 "department": "Crew", "gender": int(rng.integers(0, 3)),
                 "id": pid, "name": name, "profile_path": None}
            if rng.random() < 0.9:  # the rest carry no 'job' key at all
                e["job"] = JOBS[int(rng.integers(len(JOBS)))] if rng.random() < 0.7 else "Director"
            crew.append(e)
    elif kind == "jobless":
        for _ in range(int(rng.integers(1, 3))):
            pid, name = person()
            crew.append({"credit_id": "x", "department": "Crew", "gender": 0,
                         "id": pid, "name": name, "profile_path": None})
    return {"cast": repr(cast), "crew": repr(crew), "id": id_cell}, cast, crew


def _write_csv(path, columns, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(columns)
        for r in rows:
            w.writerow([r[c] for c in columns])


def kaggle(out_dir, seed, n_movies, ratings_per_movie):
    """Write the four Kaggle CSVs and expected.json; returns the expectation
    dict. Replays the reference loader's rules to compute expectations:
    bad ids skip the row, duplicate movie ids are last-wins for the hub and
    its bridges, dimensions are fed by every valid row, a credits row with
    an empty cast (or a crew without any 'job' entry) never overwrites an
    earlier one, and keywords accumulate over all rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_companies = max(10, n_movies // 4)
    n_collections = max(5, n_movies // 20)
    n_persons = max(50, n_movies * 4)
    n_keywords = max(20, n_movies // 2)
    ids = rng.choice(np.arange(2, n_movies * 6), n_movies, replace=False)
    ids = [int(i) for i in ids]

    # ---- movies_metadata.csv: valid rows, later duplicates, bad ids ----
    rows, last, dims = [], {}, {"genres": set(), "coll": set(), "lang": set(),
                                "countries": set(), "companies": set()}
    order = list(ids) + [ids[int(i)] for i in rng.integers(0, n_movies, max(1, n_movies // 50))]
    bad_at = set(int(i) for i in rng.integers(0, len(order), max(1, n_movies // 200)))
    for pos, mid in enumerate(order):
        if pos in bad_at:
            # Kaggle's broken rows carry a date or a path in the id column
            bad = "1997-08-20" if pos % 2 else "/ff9qCepilowshEtG2GYWwzt2bs4.jpg"
            row, _ = _movie_row(rng, bad, n_companies, n_collections)
            rows.append(row)
        row, facts = _movie_row(rng, str(mid), n_companies, n_collections)
        rows.append(row)
        last[mid] = facts
        dims["genres"].update(facts["genres"])
        if facts["coll"] is not None:
            dims["coll"].add(facts["coll"])
        dims["lang"].add(facts["orig"])
        dims["lang"].update(facts["spoken"])
        dims["countries"].update(facts["countries"])
        dims["companies"].update(facts["companies"])
    _write_csv(os.path.join(out_dir, "movies_metadata.csv"), MOVIES_COLUMNS, rows)

    # ---- credits.csv: one row per movie, empty/job-less duplicates, bad ids
    crows, persons, cast_of, crew_of = [], set(), {}, {}
    corder = [(m, "full") for m in ids]
    for i in rng.integers(0, n_movies, max(1, n_movies // 40)):
        corder.append((ids[int(i)], "empty" if i % 2 else "jobless"))
    for i in rng.integers(0, n_movies, max(1, n_movies // 100)):
        corder.append((ids[int(i)], "full"))
    for mid, kind in corder:
        row, cast, crew = _credits_row(rng, str(mid), n_persons, kind)
        crows.append(row)
        persons.update(p["id"] for p in cast)
        persons.update(p["id"] for p in crew)
        if cast:
            cast_of[mid] = cast
        if any("job" in p for p in crew):
            crew_of[mid] = crew
    for _ in range(max(1, n_movies // 200)):
        row, _, _ = _credits_row(rng, "tt0113041", n_persons, "full")
        crows.insert(int(rng.integers(0, len(crows))), row)
    _write_csv(os.path.join(out_dir, "credits.csv"), CREDITS_COLUMNS, crows)

    # ---- keywords.csv: every row contributes, bad ids skipped ----------
    krows, kw_dim, movie_kw = [], set(), set()
    korder = list(ids) + [ids[int(i)] for i in rng.integers(0, n_movies, max(1, n_movies // 50))]
    for mid in korder:
        kws = [int(k) for k in rng.integers(1, n_keywords + 1, int(rng.integers(0, 6)))]
        krows.append({"id": str(mid), "keywords": repr(
            [{"id": k, "name": f"{WORDS[k % len(WORDS)]} {k}"} for k in kws])})
        kw_dim.update(kws)
        movie_kw.update((mid, k) for k in kws)
    krows.insert(int(rng.integers(0, len(krows))),
                 {"id": "1997-08-20", "keywords": "[{'id': 1, 'name': 'bad'}]"})
    _write_csv(os.path.join(out_dir, "keywords.csv"), KEYWORDS_COLUMNS, krows)

    # ---- ratings.csv: some movies unrated, some ids unknown, bad cells --
    rated = [m for m in ids if rng.random() < 0.9] + [n_movies * 6 + 1, n_movies * 6 + 2]
    n_ratings = n_movies * ratings_per_movie
    movie_of = np.array(rated)[rng.integers(0, len(rated), n_ratings)]
    stars = rng.integers(1, 11, n_ratings) / 2.0
    users = rng.integers(1, max(2, n_ratings // 20), n_ratings)
    ts = rng.integers(789652009, 1501505000, n_ratings)
    bad = set(int(i) for i in rng.integers(0, n_ratings, max(1, n_ratings // 1000)))
    sums, counts = {}, {}
    with open(os.path.join(out_dir, "ratings.csv"), "w", encoding="utf-8") as f:
        f.write(",".join(RATINGS_COLUMNS) + "\n")
        for i in range(n_ratings):
            m, r = int(movie_of[i]), float(stars[i])
            if i in bad:
                f.write(f"{int(users[i])},{m},{'abc' if i % 2 else ''},{int(ts[i])}\n")
                continue
            f.write(f"{int(users[i])},{m},{r},{int(ts[i])}\n")
            sums[m] = sums.get(m, 0.0) + r
            counts[m] = counts.get(m, 0) + 1

    # ---- expectations --------------------------------------------------
    def bridge(key):
        return sum(len(set(f[key])) for f in last.values())
    expected = {
        "genres": len(dims["genres"]),
        "languages": len(dims["lang"]),
        "collections": len(dims["coll"]),
        "countries": len(dims["countries"]),
        "production_companies": len(dims["companies"]),
        "persons": len(persons),
        "keywords": len(kw_dim),
        "movies": len(last),
        "movies_genres": bridge("genres"),
        "movies_production_companies": bridge("companies"),
        "production_countries": bridge("countries"),
        "spoken_languages": bridge("spoken"),
        "movies_keywords": len(movie_kw),
        "directors": sum(len({p["id"] for p in c if p.get("job") == "Director"})
                         for c in crew_of.values()),
        "actors": sum(len(c) for c in cast_of.values()),
    }
    spot = sorted(ids)[:: max(1, n_movies // 8)][:8]
    ratings = {str(m): (sums[m] / counts[m] if m in counts else None) for m in spot}
    out = {"seed": seed, "n_movies": n_movies, "n_ratings": n_ratings,
           "counts": expected, "ratings": ratings}
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    return out


# ---- operator-registry tables ------------------------------------------

TEXT_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
              "stream", "value", "data", "small", "join", "filter", "big",
              "group", "hash", "customer", "sort", "order", "slow", "line",
              "part", "fast", "row", "the", "agg", "key", "query", "a",
              "scan", "batch"]


def _write_parquet(path, arrays, names):
    pq.write_table(pa.Table.from_arrays(arrays, names=names), path,
                   row_group_size=1 << 30)


def tables(out_dir, seed, sf):
    """Write the ten registry tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")
    cents = lambda lo, hi, n: np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    _write_parquet(p("region"), [pa.array(np.arange(5), i32), pa.array(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)],
        ["r_regionkey", "r_name"])
    _write_parquet(p("nation"), [pa.array(np.arange(25), i32),
                                 pa.array([f"NATION_{i}" for i in range(25)], s),
                                 pa.array(np.arange(25) % 5, i32)],
                   ["n_nationkey", "n_name", "n_regionkey"])
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write_parquet(p("customer"), [
        pa.array(np.arange(n_cust), i64),
        pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        pa.array(rng.integers(0, 25, n_cust), i32),
        pa.array(cents(-999.99, 9999.99, n_cust), f64),
        pa.array(segs[rng.integers(0, 5, n_cust)], s)],
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"])
    _write_parquet(p("supplier"), [
        pa.array(np.arange(n_supp), i64),
        pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        pa.array(rng.integers(0, 25, n_supp), i32),
        pa.array(cents(-999.99, 9999.99, n_supp), f64)],
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"])
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write_parquet(p("part"), [
        pa.array(np.arange(n_part), i64),
        pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                             noun[rng.integers(0, 8, n_part)]), s),
        pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        pa.array(ptypes[rng.integers(0, 6, n_part)], s),
        pa.array(rng.integers(1, 51, n_part), i32),
        pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), f64)],
        ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"])
    day_us = 86400 * 1000000
    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    _write_parquet(p("orders"), [
        pa.array(np.arange(n_ord), i64),
        pa.array(rng.integers(0, n_cust, n_ord), i64),
        pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        pa.array(cents(1000, 500000, n_ord), f64),
        pa.array(d0 + rng.integers(0, 2404, n_ord) * day_us, ts_us),
        pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                           "5-LOW"])[rng.integers(0, 5, n_ord)], s)],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"])
    _write_parquet(p("lineitem"), [
        pa.array(rng.integers(0, n_ord, n_line), i64),
        pa.array(rng.integers(0, n_part, n_line), i64),
        pa.array(rng.integers(0, n_supp, n_line), i64),
        pa.array(rng.integers(1, 8, n_line), i32),
        pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        pa.array(cents(900, 105000, n_line), f64),
        pa.array(np.round(rng.integers(0, 11, n_line) / 100.0, 2), f64),
        pa.array(np.round(rng.integers(0, 9, n_line) / 100.0, 2), f64),
        pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)], s),
        pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)], s),
        pa.array(d0 + rng.integers(1, 2500, n_line) * day_us, ts_us)],
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"])
    e0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = e0 + np.sort(rng.integers(0, 30 * day_us, n_ev))
    _write_parquet(p("events"), [
        pa.array(np.arange(n_ev), i64),
        pa.array(ev_ts, ts_us),
        pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), i64),
        pa.array(np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)], s),
        pa.array(cents(0, 560, n_ev), f64),
        pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)],
        ["event_id", "ts", "user_id", "event_type", "value", "props"])
    vocab = np.array(TEXT_VOCAB)
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    # 5% near-duplicates: another document's text with one token appended
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[int(i)] = texts[int(rng.integers(0, n_doc))] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write_parquet(p("documents"), [
        pa.array(np.arange(n_doc), i64),
        pa.array(texts, s),
        pa.array(langs[rng.integers(0, len(langs), n_doc)], s),
        pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        pa.array([len(t) for t in texts], i64)],
        ["doc_id", "text", "lang", "source", "n_chars"])
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write_parquet(p("embeddings"), [
        pa.array(np.arange(n_emb), i64),
        pa.array(list(emb), pa.list_(pa.float32())),
        pa.array(rng.integers(0, 10, n_emb), i32)],
        ["vec_id", "embedding", "label"])
    return {"sf": sf, "documents": n_doc, "lineitem": n_line, "events": n_ev}
