"""Seeded input generators for the benchmark.

``write_star`` writes the ten-table star schema the registry queries read
(``region`` .. ``embeddings``, one parquet file each, same column names and
types as the project's seed-42 testdata described in TESTDATA.md and
FIXTURES.md Family B).

``write_sparkify`` writes Sparkify ``song_data`` / ``log_data`` JSON lines
with the FIXTURES.md A1/A2 edge rows: ``year = 0``; duplicate ``song_id``
(differing ``artist_id``) and duplicate ``artist_id`` (differing name); null
latitude/longitude; nulls in every dropna column and empty strings in every
non-empty column; non-``NextSong`` pages; a user whose level flips between
free and paid; events over three calendar months; log rows that match no
song; and durations that match the song catalogue exactly.

Both are pure functions of their seeds: the same seeds write the same
bytes. ``write_sparkify``'s content comes from ``data_seed`` and its
``order_seed`` only permutes the lines over the files, so every order seed
gives the same rows, tables and Spark job and task counts.
A ``manifest.json`` is written last, so a directory without one is an
interrupted generation and is rebuilt.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3

_VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()


def _done(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "manifest.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _write_manifest(path: str, manifest: dict) -> dict:
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal-exact amounts in [lo, hi]."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n_docs: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary. About 5% are
    near-duplicates of an earlier document (one extra ``dup`` token), some
    of them copies of copies, so near-duplicate clusters are chains that
    take connected components several rounds; a few are exact copies."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(max(0, i - 200), i))].split()
            pos = int(rng.integers(0, len(words) + 1))
            words.insert(pos, "dup")
            texts.append(" ".join(words))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), k)]))
    langs = _pick(rng, ["en", "de", "fr", "es", "zh"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": langs,
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_star(path: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """Write the star schema at scale ``sf`` (lineitem ~ 6M x sf rows)
    plus ``n_docs`` documents and ``n_vecs`` 64-d unit embeddings."""
    manifest = {"kind": "star", "gen": GEN_VERSION, "seed": seed, "sf": sf,
                "documents": n_docs, "embeddings": n_vecs}
    if _done(path) == manifest:
        return manifest
    _fresh_dir(path)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_users = int(1_500_000 * sf), int(15_000 * sf)
    n_events = int(1_000_000 * sf)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    adjectives = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    nouns = ["bolt", "rod", "plate", "gear", "ring", "widget", "gizmo", "anvil"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, [f"{a} {b}" for a in adjectives for b in nouns], n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(retail),
        }
    )
    day_ms = 86_400_000
    d0 = int(np.datetime64("1995-01-01", "ms").astype(np.int64))
    n_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    odate = d0 + rng.integers(0, n_days + 1, n_ord) * day_ms
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(odate, type=pa.timestamp("ms")),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_order)
    starts = np.cumsum(lines_per) - lines_per
    l_num = (np.arange(n_li) - np.repeat(starts, lines_per) + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    li_order = rng.permutation(n_li)  # testdata lineitem is not clustered by order
    li = {
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
    }
    tables["lineitem"] = pa.table(
        {
            **{k: pa.array(v[li_order]) for k, v in li.items()},
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(
                (odate[l_order] + rng.integers(1, 95, n_li) * day_ms)[li_order],
                type=pa.timestamp("ms"),
            ),
        }
    )
    ev0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ev_ts = np.sort(ev0 + rng.integers(0, 30 * day_ms * 1000, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ev_ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
            "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n_events),
            "value": pa.array(np.round(rng.exponential(40.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    # Own streams, so the corpus tables do not depend on the scale factor.
    tables["documents"] = _documents(np.random.default_rng([seed, 1]), n_docs)
    vec = np.random.default_rng([seed, 2]).standard_normal((n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(np.random.default_rng([seed, 3]).integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"), row_group_size=1 << 22)
    manifest["rows"] = {name: t.num_rows for name, t in tables.items()}
    return _write_manifest(path, manifest)


SONG_COLUMNS = (
    "song_id", "title", "artist_id", "year", "duration", "artist_name",
    "artist_location", "artist_latitude", "artist_longitude",
)
LOG_COLUMNS = (
    "artist", "firstName", "gender", "lastName", "length", "level", "location",
    "page", "sessionId", "song", "ts", "userAgent", "userId",
)
# The pipeline's dropna subset and non-empty subset (plans/sparkify.py).
_DROPNA = (
    "artist", "firstName", "gender", "lastName", "length", "level", "page",
    "sessionId", "song", "ts", "userAgent", "userId",
)
_NONEMPTY = ("artist", "firstName", "gender", "lastName", "level", "song", "userAgent", "userId")


def _write_json_lines(rows: list[dict], directory: str, n_files: int, stem: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for f in range(n_files):
        with open(os.path.join(directory, f"{stem}-{f:03d}.json"), "w") as out:
            for row in rows[f::n_files]:
                out.write(json.dumps(row) + "\n")


def write_sparkify(path: str, data_seed: int, order_seed: int, n_events: int, n_songs: int,
                   n_artists: int) -> dict:
    """Write ``song_data/`` and ``log_data/`` JSON lines under ``path``:
    rows from ``data_seed``, their order over the files from ``order_seed``."""
    manifest = {"kind": "sparkify", "gen": GEN_VERSION, "data_seed": data_seed,
                "order_seed": order_seed, "events": n_events, "songs": n_songs,
                "artists": n_artists}
    if _done(path) == manifest:
        return manifest
    _fresh_dir(path)
    rng = np.random.default_rng(data_seed)

    # Artist attributes are a function of (artist_id, name): rows that tie
    # on the artists table's (artist_id, name) keep-first order are equal.
    def artist(a: int, alias: bool) -> dict:
        r = np.random.default_rng([data_seed, a, int(alias)])
        located = r.random() < 0.7
        return {
            "artist_id": f"AR{a:06d}",
            "artist_name": f"Artist {a}" + (" feat. Guest" if alias else ""),
            "artist_location": f"City {int(r.integers(0, 40))}",
            "artist_latitude": round(float(r.uniform(-60, 60)), 5) if located else None,
            "artist_longitude": round(float(r.uniform(-150, 150)), 5) if located else None,
        }

    songs: list[dict] = []
    for s in range(n_songs):
        a = int(rng.integers(0, n_artists))
        year = 0 if rng.random() < 0.1 else int(rng.integers(1960, 2019))
        songs.append(
            {
                "song_id": f"SO{s:06d}",
                "title": f"Song {s}",
                "year": year,
                "duration": round(float(rng.uniform(60.0, 600.0)), 5),
                **artist(a, alias=rng.random() < 0.1),
            }
        )
    # Duplicate song ids with a differing artist: keep-first by (artist_id, song_id).
    for s in rng.choice(n_songs, max(1, n_songs // 30), replace=False):
        dup = dict(songs[int(s)])
        a = (int(dup["artist_id"][2:]) + 1 + int(rng.integers(0, n_artists - 1))) % n_artists
        dup.update(artist(a, alias=False), title=dup["title"] + " (Live)")
        songs.append(dup)
    order = rng.permutation(len(songs))
    songs = [songs[i] for i in order]

    n_users = max(10, n_events // 150)
    first = ["Ann", "Bob", "Cat", "Dan", "Eve", "Fay", "Gil", "Hal", "Ivy", "Jo"]
    last = ["Lee", "Ray", "Fox", "Kim", "Oak", "Day", "Orr", "Poe"]
    agents = [f"Mozilla/5.0 (agent {i})" for i in range(12)]
    t0 = 1_541_030_400_000  # 2018-11-01T00:00:00Z
    span = 85 * 86_400_000  # through late January 2019
    ts = np.sort(t0 + rng.choice(span, n_events, replace=False))
    users = rng.integers(1, n_users + 1, n_events)
    # Same instant for a few events of different users: the time table dedups.
    # Sources are even and targets odd, so no user ends up with two events
    # at one instant (the users table keeps the latest event per user).
    for i in 2 * rng.choice((n_events - 1) // 2, n_events // 50, replace=False):
        if users[i] != users[i + 1]:
            ts[i + 1] = ts[i]
    plan = {u: ("paid" if rng.random() < 0.3 else "free") for u in range(1, n_users + 1)}
    logs: list[dict] = []
    for i in range(n_events):
        u = int(users[i])
        level = plan[u]
        if u == 1:
            level = "paid" if i % 2 else "free"  # flips on every event
        elif rng.random() < 0.01:
            plan[u] = level = "paid" if level == "free" else "free"
        row = {
            "artist": None, "firstName": first[u % len(first)], "gender": "MF"[u % 2],
            "lastName": last[u % len(last)], "length": None, "level": level,
            "location": f"Town {u % 25}", "page": "NextSong",
            "sessionId": int(u * 1000 + i // 400), "song": None, "ts": int(ts[i]),
            "userAgent": agents[u % len(agents)], "userId": str(u),
        }
        r = rng.random()
        if r < 0.15:
            row["page"] = ["Home", "Login", "Logout", "Settings", "Help"][int(rng.integers(0, 5))]
        elif r < 0.28:
            row.update(artist=f"Unknown {i % 97}", song=f"Lost {i % 89}",
                       length=round(float(rng.uniform(60.0, 600.0)), 5))
        else:
            s = songs[int(rng.integers(0, len(songs)))]
            row.update(artist=s["artist_name"], song=s["title"], length=s["duration"])
        logs.append(row)
    # A null in every dropna column and an empty string in every non-empty
    # column, each on a few NextSong rows.
    played = [i for i, r in enumerate(logs) if r["page"] == "NextSong"]
    for col in _DROPNA:
        for i in rng.choice(played, 3, replace=False):
            logs[int(i)][col] = None
    for col in _NONEMPTY:
        for i in rng.choice(played, 3, replace=False):
            if logs[int(i)][col] is not None:
                logs[int(i)][col] = ""

    order = np.random.default_rng(order_seed)
    songs = [songs[i] for i in order.permutation(len(songs))]
    logs = [logs[i] for i in order.permutation(len(logs))]
    _write_json_lines(songs, os.path.join(path, "song_data"), 4, "songs")
    _write_json_lines(logs, os.path.join(path, "log_data"), 8, "events")
    manifest["rows"] = {"song_data": len(songs), "log_data": len(logs)}
    return _write_manifest(path, manifest)
