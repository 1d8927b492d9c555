"""Seeded inputs for the catalogue workloads, and the expected outputs.

`make_tree` writes a media tree: one folder per video, each video a sparse
file of 0.1-5 GiB whose first line is the metadata header fake_ffprobe.py
reads. Around the videos sit what real libraries hold: .en.srt and
.en.hi.srt siblings, banned folders (Extras, Trailers, @eaDir) whose
videos the program must skip, non-video files, upper-case extensions,
audio-less, title-less, width-less and "N/A"-duration videos, titles
repeated across years and resolutions, and a few corrupt headers.

`render_line` and its helpers are an independent model of the program's
TSV db format (the reference tool's save_video_information), so every
run's output can be checked byte for byte against what the generator put
in, for any seed.
"""
import hashlib
import json
import os
import random

MAGIC = b"VMDBFAKE1 "
BOM = "﻿"
HEADER = "\t".join([
    "Width", "Height", "Duration (in s)", "Size", "Raw Size",
    "Video Codec Name", "AV1/HEVC Compression Candidate",
    "Total # of Streams", "Container Name",
    "# of Audio Channels (@Index 0)", "Audio Codec Name (@Index 0)",
    "Title", "Ext. English Subtitle Availability",
    "Ext. English Subtitle Size",
    "Ext. Hearing Impaired English Subtitle Availability",
    "Ext. Hearing Impaired English Subtitle Size",
    "Volume Label", "Path on Drive Label"])

CODECS = ["H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10",
          "H.265 / HEVC (High Efficiency Video Coding)",
          "Alliance for Open Media AV1", "MPEG-4 part 2"]
COMPRESSED = set(CODECS[1:3])
CONTAINERS = ["Matroska / WebM", "QuickTime / MOV",
              "AVI (Audio Video Interleaved)"]
AUDIO = ["AAC (Advanced Audio Coding)", "ATSC A/52A (AC-3)",
         "DCA (DTS Coherent Acoustics)"]
RES = [(640, 360), (1280, 720), (1920, 1080), (3840, 2160)]
EXTS = ["mkv", "mp4", "avi", "mov", "m4v", "webm", "MKV", "AVI"]
BANNED = ["Extras", "Trailers", "@eaDir", "Featurettes"]
WORDS = ["Night", "River", "Glass", "Empire", "Silent", "Storm", "Garden",
         "Winter", "Iron", "Shadow", "Harbor", "Signal", "Paper", "Moon",
         "Orchard", "Falcon", "Echo", "Lantern", "Copper", "Meadow"]
GiB = 1 << 30


# ----------------------------------------------------------------- render
def sizeof_fmt(num, suffix="B"):
    for unit in ["", "Ki", "Mi", "Gi", "Ti", "Pi", "Ei", "Zi"]:
        if abs(num) < 1024.0:
            return "%3.1f%s%s" % (num, unit, suffix)
        num /= 1024.0
    return "%.1f%s%s" % (num, "Yi", suffix)


def hms(raw):
    seconds = round(raw)
    minutes = hours = 0
    if seconds >= 60:
        minutes = round(seconds / 60)
        seconds = seconds % 60
    if minutes >= 60:
        hours = round(minutes / 60)
        minutes = minutes % 60
    both = hours != 0 and minutes != 0
    if not both and 0 < raw < 1:
        sec = str(round(raw, 2))
    elif not both and 1 < raw < 60:
        sec = str(round(raw))
    else:
        sec = str(seconds)
    return ((("%dh:" % hours) if hours else "") +
            (("%dm:" % minutes) if minutes else "") + sec + "s")


def duration_display(raw):
    try:
        return hms(float(raw))
    except ValueError:
        return raw


def render_line(meta, size, path, srt, hi, volume):
    """One db line for a probed video, as the program writes it."""
    w, h = meta["width"], meta["height"]
    res = ("%4d\t%4d\t" % (w, h)) if w is not None and h is not None else (
        ("0000\t" if w is None else "") + ("0000\t" if h is None else ""))
    audio = ("%d\t%s\t" % (meta["channels"], meta["audio_codec"])
             if meta["audio_codec"] is not None else "")
    title = meta["title"] if meta["title"] is not None else "<Title Not Set>"

    def sub(s):
        return "N\t \t" if s is None else "Y\t%d\t" % s
    return (res + duration_display(meta["duration"]) + "\t" +
            sizeof_fmt(float(size)) + "\t" + str(size) + "\t" +
            meta["video_codec"] + "\t" +
            ("N" if meta["video_codec"] in COMPRESSED else "Y") + "\t" +
            str(meta["nb_streams"]) + "\t" + meta["container"] + "\t" +
            audio + title + "\t" + sub(srt) + sub(hi) + volume + "\t" + path)


def db_bytes(lines, header=False):
    body = "".join(x + "\n" for x in sorted(lines, reverse=True))
    return (BOM + (HEADER + "\n" if header else "") + body).encode("utf-8")


def sha256(data):
    return hashlib.sha256(data).hexdigest()


def parse_title(base):
    """The reference's filename -> title parse (title part only)."""
    for tag in ("[4K]", "[AV1]", "[3D]"):
        base = base.replace(tag, "")
    i = base.find("[")
    after = "" if i < 0 else base[i + 1:]
    if after:
        k = base.find("]")
        base = "" if k < 0 else base[k + 1:]
    return base.strip()


def title_of_path(path):
    name = path.rsplit("/", 1)[-1]
    stem = name.rsplit(".", 1)[0] if "." in name else name
    return parse_title(stem)


def variant_counts(paths):
    """(groups, detail rows) of the variant report over these paths."""
    n = {}
    for p in paths:
        t = title_of_path(p)
        n[t] = n.get(t, 0) + 1
    dup = [c for c in n.values() if c > 1]
    return len(dup), sum(dup)


# -------------------------------------------------------------- metadata
def random_meta(rng, kind):
    w, h = rng.choice(RES)
    meta = {"video_codec": rng.choice(CODECS), "width": w, "height": h,
            "container": rng.choice(CONTAINERS),
            "nb_streams": rng.randint(1, 6),
            "duration": "%.6f" % rng.uniform(60.0, 4 * 3600.0),
            "title": " ".join(rng.sample(WORDS, 2)),
            "audio_codec": rng.choice(AUDIO), "channels": rng.choice([2, 6, 8])}
    if kind == "no_audio":
        meta["audio_codec"] = meta["channels"] = None
    elif kind == "no_title":
        meta["title"] = None
    elif kind == "no_width":
        meta["width"] = meta["height"] = None
    elif kind == "na_duration":
        meta["duration"] = "N/A"
    return meta


def pick_kind(rng):
    r = rng.random()
    for kind, p in (("no_audio", 0.08), ("no_title", 0.16),
                    ("no_width", 0.20), ("na_duration", 0.24)):
        if r < p:
            return kind
    return "plain"


def video_name(rng, titles, ext):
    """Filename; a third of the titles repeat, across years or
    resolutions, so the variant report has groups."""
    if titles and rng.random() < 0.35:
        title, year = rng.choice(titles)
        if rng.random() < 0.5:
            year += rng.randint(1, 9)
    else:
        title = " ".join(rng.sample(WORDS, 3))
        year = rng.randint(1950, 2024)
        titles.append((title, year))
    tag = rng.choice(["", "", "", " [4K]", " [AV1]"])
    return "[%d] %s%s.%s" % (year, title, tag, ext)


# ------------------------------------------------------------------ tree
def write_video(path, meta, size):
    with open(path, "wb") as f:
        f.write(MAGIC + json.dumps(meta, sort_keys=True).encode() + b"\n")
    os.truncate(path, size)


def write_corrupt(path, rng, size):
    with open(path, "wb") as f:
        f.write(MAGIC + b"{\"video_codec\": " + bytes(rng.randrange(256)
                                                    for _ in range(40)) + b"\n")
    os.truncate(path, size)


def write_plain(path, n):
    with open(path, "wb") as f:
        f.write(b"x" * n)


def fit(size, cap):
    """`size` scaled so that the largest size drawn, 5 GiB, fits below a
    file-size cap of the writing process (None: no cap)."""
    if cap is None or cap > 5 * GiB + 4096:
        return size
    return max(4096, size * (cap - 4096) // (5 * GiB))


def make_tree(root, seed, n_videos, n_corrupt, cap=None):
    """Create the tree under `root`; return its manifest: every video the
    program must probe (path, meta, size, srt sizes) and the corrupt ones.
    Folder ids skip multiples of 29 (the stub prober's failure ids). Under
    a file-size cap every video shrinks by the same factor."""
    rng = random.Random(seed)
    titles = []
    videos, corrupt = [], []
    fid = 1
    for i in range(n_videos + n_corrupt):
        while fid % 29 == 0:
            fid += 1
        genre = "Genre %02d" % (fid % 12)
        d = os.path.join(root, genre, "f%d" % fid)
        fid += 1
        os.makedirs(d, exist_ok=True)
        ext = rng.choice(EXTS)
        name = video_name(rng, titles, ext)
        path = os.path.join(d, name)
        size = fit(rng.randint(GiB // 10, 5 * GiB), cap)
        if i >= n_videos:
            write_corrupt(path, rng, size)
            corrupt.append(path)
            continue
        meta = random_meta(rng, pick_kind(rng))
        write_video(path, meta, size)
        stem = path.rsplit(".", 1)[0]
        srt = hi = None
        if rng.random() < 0.5:
            srt = rng.randint(20000, 120000)
            write_plain(stem + ".en.srt", srt)
            if rng.random() < 0.4:
                hi = rng.randint(20000, 120000)
                write_plain(stem + ".en.hi.srt", hi)
        videos.append({"path": path, "meta": meta, "size": size,
                       "srt": srt, "hi": hi})
        r = rng.random()
        if r < 0.08:     # a banned folder whose video must be skipped
            b = os.path.join(d, rng.choice(BANNED))
            os.makedirs(b, exist_ok=True)
            write_video(os.path.join(b, "clip.mkv"),
                        random_meta(rng, "plain"),
                        fit(rng.randint(GiB // 10, GiB), cap))
        elif r < 0.20:   # files the extension filter must skip
            write_plain(os.path.join(d, "poster.jpg"), rng.randint(100, 4000))
            write_plain(os.path.join(d, "movie.nfo"), rng.randint(100, 900))
    return {"videos": videos, "corrupt": corrupt}


def db_lines(videos, volume):
    return [render_line(v["meta"], v["size"], v["path"], v["srt"], v["hi"],
                        volume) for v in videos]


def write_db(path, lines, header=False):
    with open(path, "wb") as f:
        f.write(db_bytes(lines, header))


def make_volume_dbs(out_dir, seed, n_dbs, rows_per_db):
    """Volume dbs for `merge`: reference-format, headerless, sorted, each
    on its own volume. Returns (paths, lines of all dbs)."""
    rng = random.Random(seed * 7919 + 17)
    titles = []
    paths, every = [], []
    for k in range(n_dbs):
        vol = "VOL%02d" % k
        lines = []
        for i in range(rows_per_db):
            name = video_name(rng, titles, rng.choice(EXTS))
            stem = name.rsplit(".", 1)[0]
            p = "/Volumes/%s/Movies/%s/%s" % (vol, stem, name)
            meta = random_meta(rng, pick_kind(rng))
            srt = rng.randint(20000, 120000) if rng.random() < 0.5 else None
            lines.append(render_line(meta, rng.randint(GiB // 10, 5 * GiB), p,
                                     srt, None, vol))
        path = os.path.join(out_dir, "volume-%02d.tsv" % k)
        write_db(path, lines)
        paths.append(path)
        every.extend(lines)
    return paths, every
