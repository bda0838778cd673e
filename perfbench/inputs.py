"""Seeded benchmark inputs, and the expected outputs computed from the
generator's own model (never from the program under test).

Everything here is a pure function of its seed: the same seed writes
byte-identical files, a different seed writes different ones
(test_bench.py pins both).

* chart_day    -- ~13 months of chart history, then one playlist page
                  (HTML) and one tracks response (JSON) per ETL day, in
                  the shapes ``Sources.songUrlsFromPlaylistHtml`` and
                  ``Sources.songDocsFromTracksJson`` parse, plus each
                  day's expected README and RETURNING row counts.
* corpus_day   -- a documents table cut into daily batches, with planted
                  exact copies, near copies, eval contamination and
                  low-quality text, plus per-batch expected counts.
* chart_queries -- a fixed TPC-H-ish snapshot (the seed only permutes
                  the query order per sweep; the data is seed-free so
                  the recorded goldens apply to every seed).
"""

import calendar
import datetime as dt
import hashlib
import json
import os
import random

B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

# ---------------------------------------------------------------- chart_day

FIRST_ETL_DAY = dt.date(2025, 6, 1)
HISTORY_MONTHS = 13
ETL_DAYS = 120
TOP_N = 10

_FIRST = ["Luna", "Max", "Nova", "Echo", "Ivy", "Kai", "Zoe", "Leo", "Mila",
          "Rio", "Skye", "Jett", "Ada", "Remy", "Lux", "Otis", "Wren", "Ezra"]
_LAST = ["Vale", "Storm", "Blue", "Rivers", "Knight", "Cole", "Monroe",
         "Hart", "Reyes", "Quinn", "Lake", "Frost", "Black", "Stone"]
_STYLE = ["{f} {l}", "{f}", "DJ {f}", "{f} & The {l}s", "Mr. {l}",
          "{f}-{l}", "{l}!", "The {l} (Band)", "{f} {l} Jr.", "A$AP {f}"]
_WORDS = ["Love", "Night", "Fire", "Gold", "Dream", "Heart", "Summer", "Rain",
          "Dance", "Echoes", "Lights", "City", "Wild", "Sky", "Run", "Ghost",
          "Stay", "Forever", "Money", "Paradise", "Neon", "Midnight", "Sugar"]
_TITLE = ["{a}", "{a} {b}", "{a} & {b}", "{a} (Remix)", "{a} #{n}",
          "{a}, {b}!", "{a} [Live]", "{a}.{b}", "{a} - {b} Edit", "{a}*{b}",
          "{a} {b} ~ {n}", "{a} `{b}`", "{a} + {b}", "{a} | {b}"]

SPECIALS = set("`_*~{}[]()#+-.!|$")


def _id(rng, n):
    return "".join(rng.choice(B62) for _ in range(n))


def escape_markdown(word):
    """``Render.escapeSpecialCharacters``: backslash before each special."""
    return "".join("\\" + c if c in SPECIALS else c for c in word)


def format_date(d):
    """``Render.formatDate``: ``%A, %B %d, %Y`` with every " 0" unpadded."""
    return f"{calendar.day_name[d.weekday()]}, {calendar.month_name[d.month]} " \
           f"{d.day:02d}, {d.year}".replace(" 0", " ")


def add_months(d, months):
    """Calendar month shift clamped to the target month's last day."""
    m = d.month - 1 + months
    y, m = d.year + m // 12, m % 12 + 1
    return dt.date(y, m, min(d.day, calendar.monthrange(y, m)[1]))


class ChartModel:
    """A seeded chart: songs with shared artists, day-over-day churn,
    returning songs and brand-new entries."""

    def __init__(self, seed):
        self.rng = random.Random(f"chart_day:{seed}")
        self.artists = []        # (artist_id, artist_name)
        self.songs = {}          # isrc -> dict
        self.order = []          # isrcs in creation order
        self.chart = []          # today's isrcs, rank order
        self.score = {}

    def _artist(self):
        rng = self.rng
        # popularity skew: most songs go to established artists
        if self.artists and rng.random() < 0.75:
            k = int(len(self.artists) * rng.random() ** 2)
            return self.artists[k]
        name = rng.choice(_STYLE).format(f=rng.choice(_FIRST), l=rng.choice(_LAST))
        a = (_id(rng, 22), name)
        self.artists.append(a)
        return a

    def _new_song(self, with_apple):
        rng = self.rng
        isrc = "".join(rng.choice(B62[10:36]) for _ in range(2)) + \
            _id(rng, 3).upper() + "".join(rng.choice(B62[:10]) for _ in range(7))
        while isrc in self.songs:
            isrc = isrc[:-1] + rng.choice(B62[:10])
        n_art = rng.choice([1, 1, 1, 2, 2, 3])
        arts = []
        for _ in range(n_art):
            a = self._artist()
            if a not in arts:
                arts.append(a)
        track = _id(rng, 22)
        title = rng.choice(_TITLE).format(a=rng.choice(_WORDS), b=rng.choice(_WORDS),
                                          n=rng.randint(1, 99))
        self.songs[isrc] = {
            "isrc": isrc, "name": title, "track": track,
            "duration_ms": rng.randint(95_000, 340_000),
            "explicit": rng.random() < 0.3,
            "spotify_url": f"https://open.spotify.com/track/{track}",
            "apple_music_url": (f"https://music.apple.com/us/song/{rng.randint(10**9, 10**10)}"
                                if with_apple else None),
            "artists": arts,
        }
        self.order.append(isrc)
        return isrc

    def next_chart(self, with_apple):
        rng = self.rng
        kept = [s for s in self.chart if rng.random() < 0.85]
        for s in kept:
            self.score[s] = self.score[s] * 0.9 + rng.random()
        while len(kept) < TOP_N:
            outside = [s for s in self.order if s not in kept]
            if outside and rng.random() < 0.3:
                s = rng.choice(outside[-200:])
            else:
                s = self._new_song(with_apple)
            self.score[s] = 1.5 + rng.random()
            kept.append(s)
        self.chart = sorted(kept, key=lambda s: (-self.score[s], s))
        return list(self.chart)


def chart_day(seed, out):
    """Write the chart_day inputs under ``out`` and return the manifest."""
    model = ChartModel(seed)
    hist_start = add_months(FIRST_ETL_DAY, -HISTORY_MONTHS)
    n_hist = (FIRST_ETL_DAY - hist_start).days
    charts = {}
    for i in range(n_hist):
        charts[hist_start + dt.timedelta(days=i)] = model.next_chart(with_apple=True)
    history_songs = list(dict.fromkeys(s for c in charts.values() for s in c))
    etl_dates = [FIRST_ETL_DAY + dt.timedelta(days=i) for i in range(ETL_DAYS)]
    for d in etl_dates:
        charts[d] = model.next_chart(with_apple=False)

    os.makedirs(os.path.join(out, "history"), exist_ok=True)
    os.makedirs(os.path.join(out, "days"), exist_ok=True)

    def jsonl(name, rows):
        with open(os.path.join(out, "history", name + ".jsonl"), "w") as f:
            for r in rows:
                f.write(json.dumps(r, sort_keys=True) + "\n")

    songs = model.songs
    hist_artists = list(dict.fromkeys(a for s in history_songs for a in songs[s]["artists"]))
    jsonl("artist", [{"artist_id": a, "artist_name": n} for a, n in hist_artists])
    jsonl("song", [{"isrc": s, "song_name": songs[s]["name"],
                    "song_duration_ms": songs[s]["duration_ms"],
                    "is_explicit": songs[s]["explicit"],
                    "spotify_url": songs[s]["spotify_url"],
                    "apple_music_url": songs[s]["apple_music_url"]}
                   for s in history_songs])
    jsonl("artist_song_map", [{"artist_id": a, "isrc": s}
                              for s in history_songs for a, _ in songs[s]["artists"]])
    jsonl("ranking", [{"isrc": s, "ranking_date": d.isoformat(), "rank": r + 1,
                       "ranking_source": "Spotify"}
                      for d in sorted(c for c in charts if c < FIRST_ETL_DAY)
                      for r, s in enumerate(charts[d])])

    # the store as the model sees it: isrc -> set of charted dates, plus
    # the apple url each stored song row carries
    dates_of = {}
    apple = {}
    for d in charts:
        if d < FIRST_ETL_DAY:
            for s in charts[d]:
                dates_of.setdefault(s, set()).add(d)
    for s in history_songs:
        apple[s] = songs[s]["apple_music_url"]

    days = []
    for d in etl_dates:
        chart = charts[d]
        present_artists = {a for s in dates_of for a, _ in songs[s]["artists"]}
        new_songs = [s for s in chart if s not in dates_of]
        new_artists = {a for s in new_songs for a, _ in songs[s]["artists"]} - present_artists
        returning = {"artist": len(new_artists), "song": len(new_songs),
                     "artist_song_map": sum(len(songs[s]["artists"]) for s in new_songs),
                     "ranking": TOP_N}
        for s in new_songs:
            apple[s] = None  # the tracks response carries no apple url
        prev = {s: r for r, s in enumerate(charts[d - dt.timedelta(days=1)])}
        for s in chart:
            dates_of.setdefault(s, set()).add(d)
        rows = []
        for r, s in enumerate(chart):
            song = songs[s]
            names = ", ".join(sorted(n for _, n in song["artists"]))
            delta = prev[s] - r if s in prev else None
            glyph = "new" if delta is None else (f"+{delta}" if delta > 0 else
                                                 (str(delta) if delta < 0 else "—"))
            link = f"[link]({apple[s]})" if apple[s] else ""
            rows.append(f"| {glyph} | {r + 1} | {escape_markdown(names + ' - ' + song['name'])} "
                        f"| [link]({song['spotify_url']}) | {link} |\n")
        readme = _readme(format_date(d), "".join(rows))
        # X5 retention on the committed state: drop rows at or before
        # the one-year horizon, then every song left without a row
        cutoff = add_months(d, -12)
        for s in list(dates_of):
            dates_of[s] = {x for x in dates_of[s] if x > cutoff}
            if not dates_of[s]:
                del dates_of[s]

        stem = os.path.join(out, "days", d.isoformat())
        with open(stem + ".html", "w") as f:
            f.write(_playlist_html(model.rng, [songs[s]["track"] for s in chart]))
        with open(stem + ".json", "w") as f:
            f.write(json.dumps({"tracks": [_track_json(songs[s]) for s in chart]},
                               sort_keys=True))
        with open(stem + ".md", "w") as f:
            f.write(readme)
        days.append({"date": d.isoformat(), "returning": returning})

    manifest = {"workload": "chart_day", "seed": seed, "history_days": n_hist,
                "history_rows": n_hist * TOP_N, "days": days}
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest


def _readme(date_str, spotify_rows):
    return (
        "# Daily Top Songs\n\n"
        f"Showing top 10 [Spotify](#spotify) and [Apple Music](#apple-music) songs for "
        f"{date_str}. Updates daily shortly after 01:45 UTC.\n\n"
        "> [!NOTE]  \n"
        "> Collection of Apple Music song data is currently disabled due to a critical error. "
        "It is not known when this will be fixed.\n\n"
        "## Spotify\n\n"
        "|             | Rank            | Song            | Spotify Link                    "
        "| Apple Music Link                                                                             |\n"
        "| ----------- | --------------- | --------------- | ------------------------------- "
        "| -------------------------------------------------------------------------------------------- |\n"
        + spotify_rows +
        "\n## Apple Music\n\n"
        "|             | Rank            | Song            | Spotify Link                    "
        "| Apple Music Link                   |\n"
        "| ----------- | --------------- | --------------- | ------------------------------- "
        "| ---------------------------------- |\n")


def _playlist_html(rng, tracks):
    metas = "\n".join(
        f'    <meta name="music:song" content="https://open.spotify.com/track/{t}"/>'
        for t in tracks)
    noise = _id(rng, 12)
    return ("<!DOCTYPE html>\n<html>\n  <head>\n"
            f'    <meta property="og:title" content="Top 50 - Global ({noise})"/>\n'
            '    <meta name="music:creator" content="https://open.spotify.com/user/spotify"/>\n'
            f"{metas}\n"
            '    <meta name="description" content="Your daily update of the most played tracks."/>\n'
            "  </head>\n  <body><div id=\"main\"></div></body>\n</html>\n")


def _track_json(song):
    return {
        "album": {"album_type": "single", "name": song["name"]},
        "artists": [{"id": a, "name": n, "type": "artist"} for a, n in song["artists"]],
        "duration_ms": song["duration_ms"],
        "explicit": song["explicit"],
        "external_ids": {"isrc": song["isrc"]},
        "external_urls": {"spotify": song["spotify_url"]},
        "id": song["track"],
        "name": song["name"],
        "popularity": 50 + len(song["name"]) % 50,
    }


# --------------------------------------------------------------- corpus_day

CORPUS_DOCS = 6000
CORPUS_BATCH = 200
EVAL_MODULUS = 97  # Curation.Config.evalModulus

_VOCAB = ("batch part spark line column order small sort fast value scan hash "
          "slow group agg filter query big key window row table stream merge data "
          "join vector customer index shard token model train eval corpus page "
          "link crawl graph node edge rank score label tensor layer cache disk").split()
_STOP = {"en": ["the", "a", "of", "and", "in", "is", "to"],
         "fr": ["le", "la", "et", "est", "un", "une", "dans"],
         "es": ["el", "los", "de", "y", "es", "un", "en"],
         "de": ["der", "die", "das", "und", "ist", "ein", "nicht"]}
_LANGS = ["en", "en", "en", "en", "fr", "es", "de"]


def _doc_text(rng, lang):
    n = rng.randint(4, 70)
    toks = []
    for _ in range(n):
        if lang != "und" and rng.random() < 0.18:
            toks.append(rng.choice(_STOP[lang]))
        else:
            toks.append(rng.choice(_VOCAB))
    return " ".join(toks)


def corpus_day(seed, out):
    """Write the corpus_day inputs: ``eval.jsonl`` (the pinned
    benchmark slice) and ``batches/NNNN.jsonl`` (one fold each)."""
    rng = random.Random(f"corpus_day:{seed}")
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    texts = []
    docs = []
    for i in range(CORPUS_DOCS):
        lang = rng.choice(_LANGS)
        r = rng.random()
        if texts and r < 0.08:
            text = rng.choice(texts)                           # exact copy
        elif texts and r < 0.16:
            toks = rng.choice(texts).split()                   # near copy
            toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
            text = " ".join(toks)
        elif r < 0.21:
            text = " ".join([rng.choice(_VOCAB)] * rng.randint(6, 30))  # low quality
        elif r < 0.23:
            text = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(5, 40)))  # no stopwords
            lang = "und"
        else:
            text = _doc_text(rng, lang)
        texts.append(text)
        docs.append((text, lang, f"src{rng.randrange(8)}"))
    # doc ids: a seeded permutation, so each seed folds a different mix
    # of ids and copies in each batch; the multiples of the eval
    # modulus are the pinned benchmark slice
    n_ids = CORPUS_DOCS + CORPUS_DOCS // (EVAL_MODULUS - 1) + 1
    ids = list(range(1, n_ids + 1))
    rng.shuffle(ids)
    eval_ids = sorted(i for i in ids if i % EVAL_MODULUS == 0)
    batch_ids = [i for i in ids if i % EVAL_MODULUS != 0][:CORPUS_DOCS]

    def row(doc_id, t):
        text, lang, src = t
        return json.dumps({"doc_id": doc_id, "text": text, "lang": lang, "source": src,
                           "n_chars": len(text)}, sort_keys=True)

    eval_rows = [(i, (_doc_text(rng, "en"), "en", "eval")) for i in eval_ids]
    with open(os.path.join(out, "eval.jsonl"), "w") as f:
        for i, t in eval_rows:
            f.write(row(i, t) + "\n")
    # a slice of batch docs quotes an eval doc (contamination)
    eval_texts = [t[0] for _, t in eval_rows]
    batches = []
    seen = set()
    for b in range(CORPUS_DOCS // CORPUS_BATCH):
        lo = b * CORPUS_BATCH
        chunk = []
        for k in range(lo, lo + CORPUS_BATCH):
            text, lang, src = docs[k]
            if rng.random() < 0.03:
                text = rng.choice(eval_texts) + " " + text
            chunk.append((batch_ids[k], (text, lang, src)))
        chunk.sort()
        # model: exact losers are copies of anything already folded, or
        # a non-smallest doc_id among equal texts inside the batch
        first = {}
        for doc_id, (text, _, _) in chunk:
            first.setdefault(text, doc_id)
        exact = sum(1 for doc_id, (text, _, _) in chunk
                    if text in seen or first[text] != doc_id)
        seen.update(t for _, (t, _, _) in chunk)
        with open(os.path.join(out, "batches", f"{b + 1:04d}.jsonl"), "w") as f:
            for doc_id, t in chunk:
                f.write(row(doc_id, t) + "\n")
        batches.append({"batch_id": b + 1, "n_in": len(chunk), "n_exact_dup": exact})
    manifest = {"workload": "corpus_day", "seed": seed, "batches": batches}
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest


# ------------------------------------------------------------ chart_queries

CHART_QUERIES = [
    "q_rank_delta", "q_rank_delta_between", "q_string_agg", "q_upsert_returning",
    "q_keep_best_row", "q_join_update", "q_full_outer_merge", "q_orphan_gc",
    "q_semi_join", "q_retention", "q_point_filter", "q_topk", "q_union_tagged",
    "q_rollup", "q_pricing_summary", "q_ordered_agg_struct", "q_scalar_funcs",
    "q_date_funcs", "q_delta_glyph", "q_rolling_window", "q_positional_rank",
    "q_explode_normalize", "q_nested_projection", "q_count_guard",
    "q_scalar_lookup", "q_view_projection", "q_positional_split",
]
SWEEPS = 64
TABLES_SEED = 20240101  # the snapshot is fixed: goldens hold for every seed
TABLES_SCALE = 0.02     # TPC-H-ish scale factor of the snapshot


def chart_queries(seed, out):
    """Write the query order (one seeded permutation per sweep) and the
    fixed table snapshot."""
    rng = random.Random(f"chart_queries:{seed}")
    orders = []
    for _ in range(SWEEPS):
        o = list(CHART_QUERIES)
        rng.shuffle(o)
        orders.append(o)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "order.txt"), "w") as f:
        for o in orders:
            f.write(" ".join(o) + "\n")
    write_tables(os.path.join(out, "tables"))
    manifest = {"workload": "chart_queries", "seed": seed, "queries": CHART_QUERIES,
                "sweeps": SWEEPS, "tables_seed": TABLES_SEED, "scale": TABLES_SCALE}
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest


def write_tables(out, scale=TABLES_SCALE, seed=TABLES_SEED):
    """TPC-H-ish snapshot with the column names, types and value domains
    the chart and parity queries read (region .. events)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    g = np.random.default_rng(seed)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"),
                       compression="snappy")

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "ms")
        return base + g.integers(0, n_days, n).astype("timedelta64[D]")

    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": regions})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
    put("customer", {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": segs[g.integers(0, 5, n_cust)]})
    put("supplier", {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "large", "small", "hot", "green", "red", "tiny", "steel"])
    noun = np.array(["anvil", "ring", "bolt", "widget", "gear", "nut", "spring", "valve"])
    put("part", {"p_partkey": pa.array(np.arange(n_part), pa.int64()),
                 "p_name": np.char.add(np.char.add(adj[g.integers(0, 8, n_part)], " "),
                                       noun[g.integers(0, 8, n_part)]),
                 "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
                 "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                                     "PROMO"])[g.integers(0, 6, n_part)],
                 "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                   "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
                   "o_orderstatus": np.array(["O", "F", "P"])[g.integers(0, 3, n_ord)],
                   "o_totalprice": money(1000, 500_000, n_ord),
                   "o_orderdate": pa.array(days("1995-01-01", 2405, n_ord), pa.timestamp("us")),
                   "o_orderpriority": prio[g.integers(0, 5, n_ord)]})
    put("lineitem", {"l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
                     "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
                     "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
                     "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
                     "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": money(900, 105_000, n_line),
                     "l_discount": g.integers(0, 11, n_line) / 100.0,
                     "l_tax": g.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": np.array(["N", "A", "R"])[g.integers(0, 3, n_line)],
                     "l_linestatus": np.array(["O", "F"])[g.integers(0, 2, n_line)],
                     "l_shipdate": pa.array(days("1995-01-02", 2499, n_line),
                                            pa.timestamp("us"))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + g.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    etypes = np.array(["error", "view", "signup", "purchase", "click"])
    put("events", {"event_id": pa.array(np.arange(n_ev), pa.int64()),
                   "ts": pa.array(ts, pa.timestamp("us")),
                   # skewed activity, so top entities recur day over day
                   "user_id": pa.array((max(n_cust // 10, 50) * g.random(n_ev) ** 2)
                                       .astype(np.int64), pa.int64()),
                   "event_type": etypes[g.integers(0, 5, n_ev)],
                   "value": money(0, 560, n_ev),
                   "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})


# ------------------------------------------------------------------ helpers

GENERATORS = {"chart_day": chart_day, "corpus_day": corpus_day,
              "chart_queries": chart_queries}


def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)
        f.write("\n")


def tree_digest(root):
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
