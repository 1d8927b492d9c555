"""A stand-in for ffprobe that answers from a metadata header.

The catalogue generator (gen.py) writes one header line at byte 0 of every
video file it creates: MAGIC, a space, and a JSON object with the fields
below. The rest of the file is a sparse hole, so the tree looks like a
real media library to a directory walk but holds no media.

The emulator answers the part of ffprobe's command line a prober uses:
  -v, -i, -select_streams {v,a}:N, -show_entries SPEC, -show_streams,
  -show_format, -print_format/-of default[=noprint_wrappers=1:nokey=1]|json
Sections, and keys within a section, come out in ffprobe's own order, so
a prober that parses positions and one that parses keys both work.

Every call appends one line to the log named by $PERFBENCH_FFPROBE_LOG,
failing calls included, before the process exits. A header that does not
parse is answered like ffprobe answers a corrupt file: a message on
stderr and exit status 1.

Header fields: video_codec, width, height (null = unknown, printed
"N/A"), audio_codec, channels (null = no audio stream), container,
nb_streams, duration (string, may be "N/A"), title (null = no title tag).
"""
import json
import os
import sys

MAGIC = b"VMDBFAKE1 "

# ffprobe's key order within each section, for the keys the header models
STREAM_KEYS = ("index", "codec_name", "codec_long_name", "codec_type",
               "width", "height", "channels")
FORMAT_KEYS = ("filename", "nb_streams", "format_long_name", "duration")


def log_call(argv, status):
    path = os.environ.get("PERFBENCH_FFPROBE_LOG")
    if not path:
        return
    line = json.dumps({"pid": os.getpid(), "status": status, "argv": argv})
    fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        os.write(fd, (line + "\n").encode())
    finally:
        os.close(fd)


def fail(argv, msg):
    log_call(argv, 1)
    sys.stderr.write(msg + "\n")
    sys.exit(1)


def parse_args(argv):
    opts = {"select": None, "entries": None, "show_streams": False,
            "show_format": False, "fmt": "default", "input": None}
    i = 0
    while i < len(argv):
        a = argv[i]
        if a in ("-v", "-loglevel"):
            i += 1
        elif a == "-select_streams":
            opts["select"] = argv[i + 1]
            i += 1
        elif a == "-show_entries":
            opts["entries"] = argv[i + 1]
            i += 1
        elif a == "-show_streams":
            opts["show_streams"] = True
        elif a == "-show_format":
            opts["show_format"] = True
        elif a in ("-print_format", "-of"):
            opts["fmt"] = argv[i + 1]
            i += 1
        elif a == "-i":
            opts["input"] = argv[i + 1]
            i += 1
        elif not a.startswith("-"):
            opts["input"] = a
        i += 1
    return opts


def parse_entries(spec):
    """'format_tags=title:format=a,b:stream=c' -> {section: [keys]};
    a section named without '=' asks for all of its keys."""
    want = {}
    for part in spec.split(":"):
        if not part:
            continue
        sec, _, keys = part.partition("=")
        want.setdefault(sec, [])
        if keys:
            want[sec].extend(k for k in keys.split(",") if k)
        else:
            want[sec].append("*")
    return want


def read_header(path):
    with open(path, "rb") as f:
        head = f.readline(4096)
    if not head.startswith(MAGIC):
        raise ValueError("no header")
    meta = json.loads(head[len(MAGIC):].decode())
    if not isinstance(meta, dict) or "video_codec" not in meta:
        raise ValueError("bad header")
    return meta


def streams_of(meta):
    out = [{"index": 0, "codec_name": meta["video_codec"].split()[0].lower(),
            "codec_long_name": meta["video_codec"], "codec_type": "video",
            "width": meta.get("width"), "height": meta.get("height")}]
    if meta.get("audio_codec") is not None:
        out.append({"index": 1,
                    "codec_name": meta["audio_codec"].split()[0].lower(),
                    "codec_long_name": meta["audio_codec"],
                    "codec_type": "audio", "channels": meta.get("channels")})
    return out


def select(streams, spec):
    if spec is None:
        return streams
    kind, _, idx = spec.partition(":")
    typ = {"v": "video", "a": "audio"}.get(kind)
    picked = [s for s in streams if typ is None or s["codec_type"] == typ]
    if idx:
        n = int(idx)
        picked = picked[n:n + 1]
    return picked


def pick_keys(record, order, keys):
    """(key, value) pairs in ffprobe order, for the keys the record has;
    an unknown value is None (printed "N/A", left out of json)."""
    allk = "*" in keys
    return [(k, record[k]) for k in order
            if (allk or k in keys) and k in record]


def render(opts, meta):
    streams = select(streams_of(meta), opts["select"])
    fmt_rec = {"filename": opts["input"], "nb_streams": meta["nb_streams"],
               "format_long_name": meta["container"],
               "duration": meta["duration"]}
    tags = {} if meta.get("title") is None else {"title": meta["title"]}
    want = parse_entries(opts["entries"]) if opts["entries"] else {}
    if opts["show_streams"]:
        want.setdefault("stream", []).append("*")
    if opts["show_format"]:
        want.setdefault("format", []).append("*")
        want.setdefault("format_tags", []).append("*")
    sections = []  # (name, [(k, v)])
    if "stream" in want:
        for s in streams:
            sections.append(("stream", pick_keys(s, STREAM_KEYS, want["stream"])))
    if "format" in want or "format_tags" in want:
        kv = pick_keys(fmt_rec, FORMAT_KEYS, want.get("format", []))
        tk = want.get("format_tags", [])
        tag_kv = [(k, v) for k, v in tags.items() if "*" in tk or k in tk]
        sections.append(("format", kv + [("TAG:" + k, v) for k, v in tag_kv]))
    if opts["fmt"].startswith("json"):
        doc = {}
        if "stream" in want:
            doc["streams"] = [{k: v for k, v in kv if v is not None}
                              for name, kv in sections if name == "stream"]
        for name, kv in sections:
            if name == "format":
                fmt = {k: (str(v) if k != "nb_streams" else v)
                       for k, v in kv
                       if not k.startswith("TAG:") and v is not None}
                tg = {k[4:]: v for k, v in kv if k.startswith("TAG:")}
                if tg:
                    fmt["tags"] = tg
                doc["format"] = fmt
        return json.dumps(doc, indent=4) + "\n"
    nokey = "nokey=1" in opts["fmt"]
    wrappers = "noprint_wrappers=1" not in opts["fmt"]
    lines = []
    for name, kv in sections:
        if wrappers:
            lines.append("[%s]" % name.upper())
        for k, v in kv:
            v = "N/A" if v is None else v
            lines.append(str(v) if nokey else "%s=%s" % (k, v))
        if wrappers:
            lines.append("[/%s]" % name.upper())
    return "".join(line + "\n" for line in lines)


def main(argv):
    opts = parse_args(argv)
    path = opts["input"]
    if path is None:
        fail(argv, "No input specified")
    try:
        meta = read_header(path)
    except OSError as e:
        fail(argv, "%s: %s" % (path, e.strerror))
    except ValueError:
        fail(argv, "%s: Invalid data found when processing input" % path)
    out = render(opts, meta)
    log_call(argv, 0)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main(sys.argv[1:])
