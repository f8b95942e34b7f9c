"""Seeded Sparkify input in the reference layout (FIXTURES.md section A).

  song_data/<A>/<B>/<C>/TR<id>.json   one JSON object per song file
  log_data/<yyyy>/<mm>/<date>-events.json   newline-delimited log events

The data has the properties the pipeline's joins and DISTINCTs depend on:
repeated song titles; log rows that match an artist by name only, by
location only, or not at all; users who change level; non-NextSong pages;
duplicate song files; duplicate event timestamps; songs with year 0,
artists with an empty location or null coordinates.
"""
import json
import os

import numpy as np

PAGES = ["Home", "Login", "Logout", "Settings", "Upgrade", "Help", "About",
         "Downgrade", "Save Settings", "Error"]
AGENTS = ["Mozilla/5.0 (Windows NT 6.1; WOW64)", "Mozilla/5.0 (Macintosh)",
          "Mozilla/5.0 (X11; Linux x86_64)", "Mozilla/5.0 (iPhone)"]
SYL = ["ka", "zo", "lin", "vel", "mu", "ta", "ri", "don", "fe", "gor", "hi",
       "jun", "lo", "pex", "qua", "sen", "tir", "ub", "wem", "yx"]
MS_2018_11_01 = 1541030400000
DAY_MS = 86_400_000


def _word(rng, n):
    return "".join(SYL[i] for i in rng.integers(0, len(SYL), n)).capitalize()


def _hex(rng, n):
    return "".join("0123456789ABCDEF"[i] for i in rng.integers(0, 16, n))


def _dump(obj):
    return json.dumps(obj, separators=(",", ":"))


def generate(out_dir, n_songs, n_events, seed):
    """Write song_data/ and log_data/ under out_dir; returns input stats."""
    rng = np.random.default_rng(seed)
    # Proportions are exact (every k-th item), only the values are random,
    # so the output's shape (partitions, matches) varies little by seed.
    n_artists = max(2, n_songs // 2)
    n_cities = max(4, n_artists // 4)
    cities = [f"{_word(rng, 2)}, {_hex(rng, 2)}" for _ in range(n_cities)]

    artists = []
    for i in range(n_artists):
        kind = i % 20
        loc = (cities[i % n_cities] if kind < 12          # shared city
               else "" if kind < 17                        # empty location
               else f"{_word(rng, 3)} {i}")                # its own city
        coords = i % 5 < 3                                 # else null lat/long
        artists.append({
            "artist_id": f"AR{_hex(rng, 16)}",
            "artist_name": f"{_word(rng, 2)} {_word(rng, 3)}",
            "artist_location": loc,
            "artist_latitude": round(float(rng.uniform(-60, 70)), 5) if coords else None,
            "artist_longitude": round(float(rng.uniform(-170, 170)), 5) if coords else None,
        })

    songs, titles = [], []
    for i in range(n_songs):
        a = artists[(i // 2) % n_artists]  # two songs per artist
        # repeated titles: one song in ten reuses an earlier title
        title = (titles[rng.integers(0, len(titles))] if i % 10 == 9
                 else f"{_word(rng, 2)} {_word(rng, 2)}")
        titles.append(title)
        songs.append({
            "num_songs": 1, "artist_id": a["artist_id"],
            "artist_latitude": a["artist_latitude"],
            "artist_longitude": a["artist_longitude"],
            "artist_location": a["artist_location"],
            "artist_name": a["artist_name"], "song_id": f"SO{_hex(rng, 16)}",
            "title": title, "duration": round(float(rng.uniform(60, 600)), 5),
            "year": 0 if i % 5 < 2 else int(rng.integers(1950, 2011)),
        })

    song_files = song_bytes = 0
    letters = "ABCDEF"
    for i, s in enumerate(songs):
        copies = 2 if i % 50 == 7 else 1  # duplicate song files
        for c in range(copies):
            a, b, d = (letters[k] for k in rng.integers(0, len(letters), 3))
            path = os.path.join(out_dir, "song_data", a, b, d)
            os.makedirs(path, exist_ok=True)
            body = _dump(s)
            with open(os.path.join(path, f"TR{a}{b}{d}{i:07d}{c}.json"), "w") as f:
                f.write(body)
            song_files += 1
            song_bytes += len(body)

    n_users = 100 + n_events // 5000
    users = []
    for u in range(n_users):
        users.append({
            "userId": str(u + 1), "firstName": _word(rng, 2),
            "lastName": _word(rng, 3), "gender": "MF"[u % 2],
            "location": (cities[u % n_cities] if u % 2 == 0
                         else f"{_word(rng, 2)}-{_word(rng, 2)}, {_hex(rng, 2)}"),
            "userAgent": AGENTS[u % len(AGENTS)],
            "registration": float(MS_2018_11_01 - rng.integers(1, 400) * DAY_MS),
            "level": "paid" if u % 10 < 3 else "free",
            # one user in five changes level partway through
            "switch": (int(MS_2018_11_01 + rng.integers(1, 60) * DAY_MS)
                       if u % 5 == 0 else None),
        })

    ts = np.sort(rng.integers(MS_2018_11_01, MS_2018_11_01 + 61 * DAY_MS, n_events))
    dup = np.arange(n_events) % 100 == 50  # duplicate timestamps
    ts[dup] = ts[np.nonzero(dup)[0] - 1]
    ts = np.maximum.accumulate(ts)
    by_day = {}
    session, item = {}, {}
    for k in range(n_events):
        u = users[rng.integers(0, n_users)]
        kind = k % 20
        t = int(ts[k])
        level = u["level"]
        if u["switch"] is not None and t >= u["switch"]:
            level = "free" if level == "paid" else "paid"
        if rng.random() < 0.02 or u["userId"] not in session:
            session[u["userId"]] = int(rng.integers(1, 10**6))
            item[u["userId"]] = 0
        item[u["userId"]] += 1
        ev = {"artist": None, "auth": "Logged In", "firstName": u["firstName"],
              "gender": u["gender"], "itemInSession": item[u["userId"]],
              "lastName": u["lastName"], "length": None, "level": level,
              "location": u["location"], "method": "GET", "page": "Home",
              "registration": u["registration"], "sessionId": session[u["userId"]],
              "song": None, "status": 200, "ts": t, "userAgent": u["userAgent"],
              "userId": u["userId"]}
        if kind < 16:
            ev["page"] = "NextSong"
            ev["method"] = "PUT"
            if kind < 6:  # a catalogued song
                s = songs[rng.integers(0, n_songs)]
                ev["song"] = s["title"]
                ev["length"] = s["duration"]
                # by-name artist match, or a name no artist has
                ev["artist"] = (s["artist_name"] if kind < 4
                                else f"{_word(rng, 3)} {_word(rng, 1)}")
            else:
                ev["song"] = f"{_word(rng, 3)} {_word(rng, 3)}"
                ev["artist"] = f"{_word(rng, 2)} {_word(rng, 2)}"
                ev["length"] = round(float(rng.uniform(60, 600)), 5)
        else:
            ev["page"] = PAGES[rng.integers(0, len(PAGES))]
        by_day.setdefault((t - MS_2018_11_01) // DAY_MS, []).append(_dump(ev))

    log_files = log_bytes = 0
    for day, lines in sorted(by_day.items()):
        d = np.datetime64(MS_2018_11_01 + day * DAY_MS, "ms").astype("datetime64[D]")
        y, m = str(d)[:4], str(d)[5:7]
        path = os.path.join(out_dir, "log_data", y, m)
        os.makedirs(path, exist_ok=True)
        body = "\n".join(lines) + "\n"
        with open(os.path.join(path, f"{d}-events.json"), "w") as f:
            f.write(body)
        log_files += 1
        log_bytes += len(body)

    return {"song_data": {"files": song_files, "rows": song_files, "bytes": song_bytes},
            "log_data": {"files": log_files, "rows": n_events, "bytes": log_bytes}}
