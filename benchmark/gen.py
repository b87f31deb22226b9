"""Seeded input generators for the loader workloads.

Both generators are pure functions of the seed: the same seed writes the
same files byte for byte. Each returns the facts the output checks need
(record count, the minimum valid collector tstamp) so the checks never
ask the program under test what its input was.
"""
import datetime as dt
import os
import random
import re

# The atomic enriched-event schema has 131 tab-separated fields;
# collector_tstamp is field 3. txn_id (field 7) carries a zero-padded
# record number that the benchmark supplies to the loader as the
# sequence number for object naming.
ENRICHED_FIELDS = 131
TSTAMP_IDX = 3
SEQ_IDX = 7
SEQ_WIDTH = 12

# 2026-03-01T00:00:00Z: all generated collector tstamps fall in the
# following 24 hours.
BASE = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)

IGLU_URI = re.compile(
    r"^iglu:([a-zA-Z0-9-_.]+)/([a-zA-Z0-9-_]+)/([a-zA-Z0-9-_]+)/"
    r"([1-9][0-9]*)-(0|[1-9][0-9]*)-(0|[1-9][0-9]*)$")

_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango "
          "uniform victor whiskey xray yankee zulu").split()
_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
    "Chrome/124.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_4) AppleWebKit/605.1.15 (KHTML, like Gecko) "
    "Version/17.4 Safari/605.1.15",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Mobile/15E148",
    "Mozilla/5.0 (X11; Linux x86_64; rv:125.0) Gecko/20100101 Firefox/125.0",
]


def _hex(r, n):
    return "%0*x" % (n, r.getrandbits(4 * n))


def _uuid(r):
    h = _hex(r, 32)
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S.") + "%03d" % (t.microsecond // 1000)


def _enriched_line(r, seq, users):
    f = [""] * ENRICHED_FIELDS
    t = BASE + dt.timedelta(milliseconds=r.randrange(86_400_000))
    event = r.choice(("page_view", "page_view", "page_ping", "struct", "unstruct"))
    f[0] = r.choice(("shop-web", "shop-ios", "blog", "docs"))
    f[1] = "web" if f[0] in ("shop-web", "blog", "docs") else "mob"
    f[2] = _ts(t + dt.timedelta(seconds=2))
    f[3] = _ts(t)
    f[4] = _ts(t - dt.timedelta(milliseconds=r.randrange(5000)))
    f[5] = event
    f[6] = _uuid(r)
    f[7] = "%0*d" % (SEQ_WIDTH, seq)
    f[8] = "cf"
    f[9] = "js-3.23.0"
    f[10] = "ssc-3.2.0-kinesis"
    f[11] = "snowplow-enrich-kinesis-4.1.0"
    user = r.choice(users)
    f[12] = user if r.random() < 0.3 else ""
    f[13] = "10.%d.%d.x" % (r.randrange(256), r.randrange(256))
    f[15] = user
    f[16] = str(r.randrange(1, 40))
    f[17] = _uuid(r)
    f[18], f[19], f[20] = r.choice((("GB", "ENG", "London"), ("US", "CA", "San Francisco"),
                                    ("DE", "BE", "Berlin"), ("FR", "IDF", "Paris")))
    f[22] = "%.4f" % r.uniform(-60, 60)
    f[23] = "%.4f" % r.uniform(-120, 120)
    path = "/" + "/".join(r.choice(_WORDS) for _ in range(r.randrange(1, 4)))
    f[29] = "https://www.example.com" + path + ("?id=%d" % r.randrange(10000))
    f[30] = " ".join(r.choice(_WORDS) for _ in range(r.randrange(2, 7))).title()
    f[32], f[33], f[34], f[35] = "https", "www.example.com", "443", path
    f[36] = "id=%d" % r.randrange(10000)
    if r.random() < 0.4:
        f[31] = "https://www.search.example/?q=" + r.choice(_WORDS)
        f[38], f[39], f[40], f[41] = "https", "www.search.example", "443", "/"
        f[44], f[45], f[46] = "search", "Example", r.choice(_WORDS)
    f[52] = ('{"schema":"iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0",'
             '"data":[{"schema":"iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0",'
             '"data":{"id":"%s"}},{"schema":"iglu:org.w3/PerformanceTiming/jsonschema/1-0-0",'
             '"data":{"navigationStart":%d,"domComplete":%d,"loadEventEnd":%d}}]}'
             % (_uuid(r), r.randrange(10**12), r.randrange(10**4), r.randrange(10**4)))
    if event == "struct":
        f[53], f[54], f[55] = r.choice(_WORDS), r.choice(("click", "view", "add")), r.choice(_WORDS)
        f[57] = str(r.randrange(100))
    if event == "unstruct":
        f[58] = ('{"schema":"iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0",'
                 '"data":{"schema":"iglu:com.acme/checkout/jsonschema/1-0-2",'
                 '"data":{"basket":%d,"total":%.2f,"currency":"EUR"}}}'
                 % (r.randrange(1, 9), r.uniform(1, 500)))
    f[77] = r.choice(_AGENTS)
    f[78], f[79], f[80] = "Chrome 124", "Chrome", "124.0.0.0"
    f[81], f[82], f[83] = "Browser", "WEBKIT", r.choice(("en-GB", "en-US", "de-DE"))
    for i in range(84, 93):
        f[i] = r.choice("01")
    f[93], f[94], f[95], f[96] = "1", "24", str(r.randrange(320, 2560)), str(r.randrange(480, 1440))
    f[97], f[98], f[99] = "Windows 10", "Windows", "Microsoft Corporation"
    f[100] = "Europe/London"
    f[101], f[102] = "Computer", "0"
    f[103], f[104] = "1920", "1080"
    f[105], f[106], f[107] = "UTF-8", "1903", str(r.randrange(1000, 9000))
    f[119] = _ts(t - dt.timedelta(milliseconds=r.randrange(3000)))
    f[122] = _uuid(r)
    f[123] = _ts(t)
    f[124] = "com.snowplowanalytics.snowplow"
    f[125] = event
    f[126] = "jsonschema"
    f[127] = "1-0-0"
    f[128] = _hex(r, 32)
    # A small share of lines carry a collector tstamp the loader must
    # treat as missing: empty, out of range, or another format.
    u = r.random()
    if u < 0.004:
        f[3] = ""
    elif u < 0.008:
        f[3] = "2026-13-40 25:61:61.000"
    elif u < 0.012:
        f[3] = t.strftime("%Y-%m-%dT%H:%M:%SZ")
    return "\t".join(f)


def _valid_tstamp(s):
    """The instant a collector tstamp names, or None where the loader
    must treat it as missing: only `yyyy-MM-dd HH:mm:ss[.fff]` with
    in-range fields counts."""
    if not re.match(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d{1,6})?$", s):
        return None
    try:
        fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in s else "%Y-%m-%d %H:%M:%S"
        return dt.datetime.strptime(s, fmt).replace(tzinfo=dt.timezone.utc)
    except ValueError:
        return None


def _write_files(directory, lines, file_bytes):
    """Split lines into files of about `file_bytes` each, in order."""
    os.makedirs(directory, exist_ok=True)
    part, size, n = [], 0, 0
    for line in lines:
        part.append(line)
        size += len(line) + 1
        if size >= file_bytes:
            _flush(directory, n, part)
            part, size, n = [], 0, n + 1
    if part:
        _flush(directory, n, part)
        n += 1
    return n


def _flush(directory, n, part):
    with open(os.path.join(directory, "part-%05d.tsv" % n), "w", encoding="utf-8") as f:
        f.write("\n".join(part))
        f.write("\n")


def enriched(directory, seed, records, file_bytes):
    r = random.Random(seed)
    users = [_uuid(r) for _ in range(500)]
    lines = [_enriched_line(r, i, users) for i in range(records)]
    valid = [v for v in (_valid_tstamp(l.split("\t")[TSTAMP_IDX]) for l in lines) if v]
    files = _write_files(directory, lines, file_bytes)
    return {"records": records, "files": files,
            "bytes": sum(len(l) + 1 for l in lines),
            "min_tstamp": min(valid).isoformat()}


def _schemas(r, n):
    """`n` Iglu keys over a few vendors; some share vendor/name and
    differ only in revision (same partition) or model (new partition)."""
    keys = []
    vendors = ["com.acme", "com.acme.shop", "io.example-co", "org.sample_data"]
    while len(keys) < n:
        vendor = r.choice(vendors)
        name = r.choice(_WORDS) + "_" + r.choice(("event", "context", "entity"))
        model = r.choice((1, 1, 1, 2, 3))
        for rev in range(r.choice((1, 1, 2))):
            keys.append(f"iglu:{vendor}/{name}/jsonschema/{model}-{rev}-{r.randrange(3)}")
    return keys[:n]


def partition_of(line):
    """The partition a self-describing line belongs to, derived here
    independently of the loader: `vendor.name/format-MODEL` for a JSON
    object whose `schema` is a valid Iglu URI, else `unpartitioned`."""
    import json
    try:
        obj = json.loads(line)
    except ValueError:
        return "unpartitioned"
    schema = obj.get("schema") if isinstance(obj, dict) else None
    m = IGLU_URI.match(schema) if isinstance(schema, str) else None
    if not m:
        return "unpartitioned"
    return f"{m.group(1)}.{m.group(2)}/{m.group(3)}-{int(m.group(4))}"


def self_describing(directory, seed, records, file_bytes, n_schemas=36):
    r = random.Random(seed)
    keys = _schemas(r, n_schemas)
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(keys))]
    lines = []
    for i in range(records):
        u = r.random()
        if u < 0.005:
            line = "not json %d %s" % (i, r.choice(_WORDS))
        elif u < 0.010:
            line = '{"data":{"id":%d,"note":"%s"}}' % (i, r.choice(_WORDS))
        elif u < 0.015:
            line = ('{"schema":"iglu:com.acme/%s/jsonschema/0-1-0","data":{"id":%d}}'
                    % (r.choice(_WORDS), i))
        else:
            key = r.choices(keys, weights)[0]
            tags = ",".join('"%s"' % r.choice(_WORDS) for _ in range(r.randrange(1, 5)))
            line = ('{"schema":"%s","data":{"id":"%s","seq":%d,"ts":"%s","value":%.3f,'
                    '"user":"%s","tags":[%s],"note":"%s"}}'
                    % (key, _uuid(r), i,
                       _ts(BASE + dt.timedelta(milliseconds=r.randrange(86_400_000))),
                       r.uniform(0, 1000), _hex(r, 16), tags,
                       " ".join(r.choice(_WORDS) for _ in range(r.randrange(2, 12)))))
        lines.append(line)
    files = _write_files(directory, lines, file_bytes)
    return {"records": records, "files": files,
            "bytes": sum(len(l.encode()) + 1 for l in lines),
            "partitions": len({partition_of(l) for l in lines})}
