"""Seeded generator of a multi-file Twitter dump in the 31-column layout of
src/test/data/tweets.schema, plus the record of what it planted.

The dump is written with RFC 4180 quoting: every field is quoted and an
embedded quote is doubled, which is what the importer's default read
(escape = '"') unescapes. A backslash-escaped dump (Spark's CSV writer
default) would be read back with the backslashes and outer quotes kept,
without dropping a row, so only a content checksum would notice.

Planted rows, each a known share of the dump:
  bad_time    tweet_time null, junk, or carrying seconds: cleanse removes it
              and every other row with the same tweetid;
  twin        a well-formed row sharing its tweetid with a bad_time row;
  null_id     tweetid empty, read as NULL: removed because bad rows exist;
  malformed   follower_count does not parse as Long: DROPMALFORMED drops it.
Every row carries quoted commas, doubled quotes or multibyte text somewhere,
and three bracketed list columns.

The record (expect.json) holds, for the full import and for the schema-only
import, the expected row count, a checksum of the surviving tweetids and a
checksum of the text columns; for the full import also the rows per
year/month partition. Checksums are computed here, from the generated
values, never from an importer output.
"""
import json
import os
import random
import zlib

N_FILES = 12
SHARE = {"bad_time": 0.010, "twin": 0.005, "null_id": 0.005, "malformed": 0.005}
TEXT_COLS = ("tweet_text", "user_profile_description", "user_reported_location")
MASK64 = (1 << 64) - 1

WORDS = ("data spark parquet import cleanse tweet news vote snow rain city "
         "night café straße naïve déjà Привет мир день снег 東京 日本語 데이터 "
         "مرحبا שלום 🙂 🚀 ✓").split()
PLACES = ["Moscow, Russia", "Springfield, USA", "Paris", "Zürich, CH", "São Paulo",
          "東京", "Kyiv, Ukraine", "", "Berlin, DE", "Lagos, NG"]
TAGS = ["vote", "news", "USA", "fr", "hiver", "data", "spark", "éte", "снег", "🚀"]
CLIENTS = ["Twitter Web Client", "Twitter for iPhone", "Twitter for Android", "TweetDeck"]
LANGS = ["en", "ru", "fr", "de", "ja", "es"]


def mix64(x):
    """splitmix64 finaliser; the checker has a vectorised twin of it."""
    x = (x + 0x9E3779B97F4A7C15) & MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK64
    return x ^ (x >> 31)


def text_sum(values):
    """Order-free checksum of a row's text columns (None reads as '')."""
    s = 0
    for i, v in enumerate(values):
        s += (i + 1) * zlib.crc32((v or "").encode("utf-8"))
    return s


def q(v):
    return '"' + v.replace('"', '""') + '"'


def bracket(rng, pool, max_n):
    n = rng.randrange(max_n + 1)
    if n == 0:
        return rng.choice(["[]", ""])
    return "[" + ", ".join(rng.choice(pool) for _ in range(n)) + "]"


def generate(out_dir, seed, rows):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    header = ("tweetid,userid,user_display_name,user_screen_name,user_reported_location,"
              "user_profile_description,user_profile_url,follower_count,following_count,"
              "account_creation_date,account_language,tweet_language,tweet_text,tweet_time,"
              "tweet_client_name,in_reply_to_tweetid,in_reply_to_userid,quoted_tweet_tweetid,"
              "is_retweet,retweet_userid,retweet_tweetid,latitude,longitude,quote_count,"
              "reply_count,like_count,retweet_count,hashtags,urls,user_mentions,poll_choices")
    # Pools of pre-quoted column runs keep the per-row work small; the
    # per-row columns (tweetid, follower_count, tweet_text, tweet_time) are
    # drawn fresh for every row.
    users = []  # (quoted userid..user_profile_url run, text checksum part)
    for u in range(2000):
        name = " ".join(rng.choice(WORDS) for _ in range(2))
        place = rng.choice(PLACES)
        bio = rng.choice(['likes, commas, in, bio', 'says "hello"', 'Привет, мир!',
                          'plain bio']) + f" {u}"
        url = rng.choice(["", f"https://example.org/{u}"])
        run = ",".join(q(v) for v in (f"u{u:05d}", name, f"user{u}", place, bio, url))
        users.append((run, text_sum(["", bio, place])))
    middles = []  # following_count..tweet_language
    for _ in range(500):
        lang = rng.choice(LANGS)
        middles.append(",".join(q(v) for v in (
            str(rng.randrange(5000)),
            f"{rng.randrange(2008, 2013)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
            lang, lang)))
    tails = []  # tweet_client_name..poll_choices
    for _ in range(5000):
        retweet = rng.random() < 0.2
        rid = str(rng.randrange(10**12, 10**12 + 50 * rows))
        tails.append(",".join(q(v) for v in (
            rng.choice(CLIENTS), rid if rng.random() < 0.3 else "", "", "",
            "true" if retweet else "false", f"u{rng.randrange(2000):05d}" if retweet else "",
            rid if retweet else "",
            f"{rng.uniform(-90, 90):.5f}" if rng.random() < 0.1 else "",
            f"{rng.uniform(-180, 180):.5f}" if rng.random() < 0.1 else "",
            str(rng.randrange(50)), str(rng.randrange(50)), str(rng.randrange(500)),
            str(rng.randrange(500)),
            bracket(rng, TAGS, 3), bracket(rng, ["https://t.co/a", "https://t.co/b"], 2),
            bracket(rng, ["@alice", "@bob", "@Дима"], 2), "")))
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randrange(4, 14)))
             for _ in range(3000)]

    n_bad = int(rows * SHARE["bad_time"])
    n_twin = int(rows * SHARE["twin"])
    n_null = int(rows * SHARE["null_id"])
    n_malf = int(rows * SHARE["malformed"])
    kinds = (["bad_time"] * n_bad + ["twin"] * n_twin + ["null_id"] * n_null +
             ["malformed"] * n_malf)
    kinds += ["ok"] * (rows - len(kinds))
    rng.shuffle(kinds)
    # unique ids in random order, so the sort does real work
    ids = rng.sample(range(10**12, 10**12 + 50 * rows), rows)
    bad_ids = [ids[i] for i, k in enumerate(kinds) if k == "bad_time"]

    full = {"rows": 0, "id_sum": 0, "text_sum": 0, "partitions": {}}
    flat = {"rows": 0, "id_sum": 0, "text_sum": 0, "null_ids": 0}
    planted = {k: 0 for k in SHARE}
    out = [[header] for _ in range(N_FILES)]
    rrange = rng.randrange
    crc = zlib.crc32
    for i, kind in enumerate(kinds):
        tid = ids[i] if kind != "twin" else rng.choice(bad_ids)
        y, mo, d = 2013 + rrange(4), 1 + rrange(12), 1 + rrange(28)
        ttime = f"{y:04d}-{mo:02d}-{d:02d} {rrange(24):02d}:{rrange(60):02d}"
        if kind == "bad_time":
            ttime = rng.choice(["", "not a date", ttime + ":30", f"{d:02d}/{mo:02d}/{y}"])
        urun, uts = users[rrange(2000)]
        text = texts[rrange(3000)] + f' "{i}", ok'
        followers = str(rrange(100000))
        if kind == "malformed":
            followers += "k"
        tid_s = "" if kind == "null_id" else str(tid)
        out[rrange(N_FILES)].append(
            f'"{tid_s}",{urun},"{followers}",{middles[rrange(500)]},'
            f'"{text.replace(chr(34), chr(34) * 2)}","{ttime}",{tails[rrange(5000)]}')
        if kind != "ok":
            planted[kind] += 1
        if kind == "malformed":
            continue
        ts = uts + crc(text.encode("utf-8"))
        flat["rows"] += 1
        flat["text_sum"] += ts
        if kind == "null_id":
            flat["null_ids"] += 1
        else:
            flat["id_sum"] = (flat["id_sum"] + mix64(tid)) & MASK64
        if kind != "ok":
            continue
        full["rows"] += 1
        full["id_sum"] = (full["id_sum"] + mix64(tid)) & MASK64
        full["text_sum"] += ts
        key = f"{y:04d}/{mo:02d}"
        full["partitions"][key] = full["partitions"].get(key, 0) + 1
    csv_bytes = 0
    for f, lines in enumerate(out):
        path = os.path.join(out_dir, f"part-{f}.csv")
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write("\n".join(lines) + "\n")
        csv_bytes += os.path.getsize(path)
    expect = {"seed": seed, "rows": rows, "csv_bytes": csv_bytes, "planted": planted,
              "text_cols": list(TEXT_COLS), "import_tweets": full, "import_flat": flat}
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump(expect, f)
    return expect

