"""Seeded SCATS push-stream generator for the benchmark.

Writes a NUL-framed payload of network-shaped Transis detector-count
documents (one document per five-minute period, N sites x 24 detectors)
and, computed here without Spark, the records the pipeline must push:
one canonical JSON line per DetectorCountMessage, plus a per-document
index (period timestamp, expected record count).

The inputs vary what the pipeline branches on:
  - a share of error="true" documents (dropped, even when they carry
    messages);
  - a share of documents whose DetectorCountMessages element is empty
    (dropped);
  - detectors without a count attribute (the T4 guard drops them from
    the record's map);
  - several regions, so partition keys and lake partitions differ.
"""
import datetime
import json
import os
import random

NS = "http://model.transis.rta.nsw.gov.au/"
REGIONS = ["ROZ", "SYD", "NTH", "STH", "WST", "EST"]
DETECTORS = 24
PERIOD_S = 300
# 2019-10-20T00:00:00+10:00; the seed shifts the start by whole days
BASE_EPOCH = 1571493600
TZ_OFFSET_S = 10 * 3600


def iso_local(epoch):
    """ISO-8601 in +10:00, the shape the feed uses (T2 parses it back)."""
    t = datetime.datetime.fromtimestamp(epoch + TZ_OFFSET_S, datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S") + "+10:00"


def canonical(record):
    return json.dumps(record, sort_keys=True, separators=(",", ":"))


def generate(seed, n_docs, n_sites, error_share, empty_share,
             missing_count_share, n_regions):
    """Returns (docs, expected): docs is a list of XML strings; expected is
    a list of dicts {ts, kind, records} with records as canonical JSON."""
    rnd = random.Random(seed)
    regions = REGIONS[:n_regions]
    start = BASE_EPOCH + rnd.randrange(0, 365) * 86400
    sites = [(str(1000 + i * 7 + rnd.randrange(7)), regions[i % n_regions])
             for i in range(n_sites)]
    docs, expected = [], []
    for d in range(n_docs):
        ts = start + d * PERIOD_S
        date = iso_local(ts)
        # the first document is always a normal one, so every run has
        # records from its first period on
        u = rnd.random() if d > 0 else 1.0
        kind = ("error" if u < error_share else
                "empty" if u < error_share + empty_share else "counts")
        parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n',
                 '<ns2:TransisResponse error="%s" xmlns:ns2="%s">\n'
                 % ("true" if kind == "error" else "false", NS)]
        records = []
        if kind == "error":
            parts.append('  <Errors><Error msg="upstream unavailable %d"/>'
                         '</Errors>\n' % d)
        if kind == "empty":
            parts.append("  <DetectorCountMessages></DetectorCountMessages>\n")
        else:
            parts.append("  <DetectorCountMessages>\n")
            for sid, reg in sites:
                parts.append('    <ns2:DetectorCountMessage Sid="%s" '
                             'date="%s" reg="%s">\n      <Detectors>\n'
                             % (sid, date, reg))
                counts = {}
                for did in range(1, DETECTORS + 1):
                    if rnd.random() < missing_count_share:
                        parts.append('        <Detector Did="%d"/>\n' % did)
                    else:
                        c = str(rnd.randrange(0, 40))
                        counts[str(did)] = c
                        parts.append('        <Detector Did="%d" count="%s"/>\n'
                                     % (did, c))
                parts.append("      </Detectors>\n"
                             "    </ns2:DetectorCountMessage>\n")
                records.append(canonical({
                    "collectionIntervalSecs": 300,
                    "region": reg,
                    "siteId": sid,
                    "collectionendtimestamp_plus_3_mins": ts,
                    "detectorCounts": counts}))
            parts.append("  </DetectorCountMessages>\n")
        parts.append("</ns2:TransisResponse>\n")
        docs.append("".join(parts))
        expected.append({"ts": ts, "kind": kind,
                         "records": records if kind == "counts" else []})
    return docs, expected


def write(out_dir, name, seed, run_params, **params):
    """Writes <name>.payload (NUL-terminated documents), <name>.expected
    (canonical records, one per line) and <name>.docs.json (per-document
    ts and record count, the generator and run parameters). Returns the
    payload size in bytes."""
    docs, expected = generate(seed, **params)
    payload = "".join(doc + "\0" for doc in docs).encode("utf-8")
    with open(os.path.join(out_dir, name + ".payload"), "wb") as f:
        f.write(payload)
    with open(os.path.join(out_dir, name + ".expected"), "w") as f:
        for e in expected:
            for r in e["records"]:
                f.write(r + "\n")
    with open(os.path.join(out_dir, name + ".docs.json"), "w") as f:
        json.dump({"docs": [{"ts": e["ts"], "kind": e["kind"],
                             "records": len(e["records"]),
                             "bytes": len(doc.encode("utf-8")) + 1}
                            for e, doc in zip(expected, docs)],
                   "params": params, "run": run_params, "seed": seed}, f)
    return len(payload)
