#!/usr/bin/env python3
"""Independent survivor oracle for the full production media stack
(`RunMediaAudit --pairs --max-bucket N --dedup`) at big scale rungs.

The media fixtures (`sbt "runMain graft.Tools gen media <sfDir> <mediaOut>"`)
factor through id mod 256 (every `(g(id)+k) mod 256` synthesis does), so
each modality's corpus is a set of CONTENT CLASSES: all members of a class share one fingerprint, and
guardedBandPairs' star-collapse only ever connects docs within a class
(stars) or class representatives (rep cliques). The doc-level guarded
pair graph therefore collapses EXACTLY to a class-level graph:

  - per (band, band_val) bucket: let rows = total member docs, k =
    #classes in the bucket;
  - rows <= maxBucket  -> every class pair in the bucket is a candidate
    (the plain small-bucket join);
  - rows >  maxBucket  -> candidates iff k <= maxBucket (the rep clique;
    k > maxBucket sub-splits to per-fingerprint singletons = nothing,
    the disclosed recall drop);
  - candidates verify at hamming <= t; intra-class docs always connect
    (stars when the bucket is big, the plain join when small).

Survivors = min doc id per class-graph component (classes with a single
doc and no edges survive as themselves). This recomputes that with
per-class fingerprints from DuckDB (linear closed forms) + pure-Python
union-find over <=256 class nodes, then compares against the engine's
`<table>_<modality>_survivors` parquet row-for-row.

Usage: python3 dev/media_stack_check.py <sfDir> <auditOutDir> [maxBucket]
"""
import sys

import duckdb

IMAGE_CLASSES = """
WITH d AS (SELECT doc_id FROM '{sf}/documents.parquet'),
px AS (SELECT doc_id, UNNEST(generate_series(0, 63)) AS pos FROM d),
v AS (SELECT doc_id, pos, (doc_id * (2*pos + 1)) % 256 AS val FROM px),
s AS (SELECT doc_id, SUM(val) AS total FROM v GROUP BY doc_id),
b AS (SELECT v.doc_id, v.pos, CASE WHEN 64*v.val > s.total THEN 1 ELSE 0 END AS bit
  FROM v JOIN s USING (doc_id)),
h AS (SELECT doc_id,
  CAST(SUM(CASE WHEN pos >= 32 THEN bit * (1::BIGINT << (pos-32)) ELSE 0 END) AS BIGINT) AS hi,
  CAST(SUM(CASE WHEN pos < 32 THEN bit * (1::BIGINT << pos) ELSE 0 END) AS BIGINT) AS lo
  FROM b GROUP BY doc_id)
SELECT hi, lo, MIN(doc_id) AS rep, COUNT(*) AS n,
       LIST(doc_id ORDER BY doc_id) AS members
FROM h GROUP BY hi, lo
"""

AUDIO_CLASSES = """
WITH d AS (SELECT doc_id FROM '{sf}/documents.parquet'),
s AS (SELECT doc_id, UNNEST(generate_series(0, 159)) AS i FROM d),
v AS (SELECT doc_id, i // 5 AS w, (doc_id * (i + 3)) % 256 AS val FROM s),
e AS (SELECT doc_id, w, SUM(val) AS ew FROM v GROUP BY doc_id, w),
t AS (SELECT doc_id, SUM(ew) AS total FROM e GROUP BY doc_id),
h AS (SELECT e.doc_id AS doc_id,
  CAST(SUM(CASE WHEN 32*e.ew > t.total THEN (1::BIGINT << w) ELSE 0 END) AS BIGINT) AS fp
  FROM e JOIN t ON e.doc_id = t.doc_id GROUP BY e.doc_id)
SELECT fp AS hi, 0::BIGINT AS lo, MIN(doc_id) AS rep, COUNT(*) AS n,
       LIST(doc_id ORDER BY doc_id) AS members
FROM h GROUP BY fp
"""

VIDEO_CLASSES = """
WITH d AS (SELECT doc_id FROM '{sf}/documents.parquet'),
px AS (SELECT doc_id, f, UNNEST(generate_series(0, 63)) AS pos
  FROM d, (SELECT UNNEST(generate_series(0, 3)) AS f)),
v AS (SELECT doc_id, f, pos, (doc_id * (2*pos + 1) + 17*f) % 256 AS val FROM px),
fs AS (SELECT doc_id, f, SUM(val) AS fsum FROM v GROUP BY doc_id, f),
fb AS (SELECT v.doc_id, v.f, v.pos, CASE WHEN 64*v.val > fs.fsum THEN 1 ELSE 0 END AS bit
  FROM v JOIN fs ON v.doc_id = fs.doc_id AND v.f = fs.f),
cnt AS (SELECT doc_id, pos, SUM(bit) AS c FROM fb GROUP BY doc_id, pos),
cb AS (SELECT doc_id, pos, CASE WHEN 2*c >= 4 THEN 1 ELSE 0 END AS bit FROM cnt),
h AS (SELECT doc_id,
  CAST(SUM(CASE WHEN pos >= 32 THEN bit * (1::BIGINT << (pos-32)) ELSE 0 END) AS BIGINT) AS hi,
  CAST(SUM(CASE WHEN pos < 32 THEN bit * (1::BIGINT << pos) ELSE 0 END) AS BIGINT) AS lo
  FROM cb GROUP BY doc_id)
SELECT hi, lo, MIN(doc_id) AS rep, COUNT(*) AS n,
       LIST(doc_id ORDER BY doc_id) AS members
FROM h GROUP BY hi, lo
"""


def image_bands(hi, lo):
    return [(0, lo & 0xffff), (1, (lo >> 16) & 0xffffffffffff),
            (2, hi & 0xffff), (3, (hi >> 16) & 0xffffffffffff)]


def audio_bands(hi, _lo):
    return [(b, (hi >> (8 * b)) & 0xff) for b in range(4)]


def hamming2(a, b):
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def survivors_of(classes, bands_fn, maxham, max_bucket):
    # union-find over class indices
    parent = list(range(len(classes)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    buckets = {}
    for ci, (hi, lo, rep, n, members) in enumerate(classes):
        for key in bands_fn(hi, lo):
            buckets.setdefault(key, []).append(ci)
    for key, cis in buckets.items():
        rows = sum(classes[ci][3] for ci in cis)
        k = len(cis)
        if rows > max_bucket and k > max_bucket:
            continue  # sub-split emits nothing: disclosed recall drop
        for i in range(k):
            for j in range(i + 1, k):
                a, b = classes[cis[i]], classes[cis[j]]
                if hamming2((a[0], a[1]), (b[0], b[1])) <= maxham:
                    union(cis[i], cis[j])
    comp_min = {}
    for ci, c in enumerate(classes):
        r = find(ci)
        comp_min[r] = min(comp_min.get(r, c[2]), c[2])
    return sorted(comp_min.values())


def main(sfdir, outdir, max_bucket):
    con = duckdb.connect()
    con.execute("SET memory_limit='40GB'")
    con.execute("SET threads=16")
    specs = [("image", IMAGE_CLASSES, image_bands, 6),
             ("audio", AUDIO_CLASSES, audio_bands, 3),
             ("video", VIDEO_CLASSES, image_bands, 6)]
    ok = True
    for name, sql, bands_fn, maxham in specs:
        classes = con.execute(sql.format(sf=sfdir)).fetchall()
        want = survivors_of(classes, bands_fn, maxham, max_bucket)
        got = sorted(r[0] for r in con.execute(
            f"SELECT media_id FROM '{outdir}/media_{name}_survivors/*.parquet'"
        ).fetchall())
        good = got == want
        ok &= good
        print(f"{name}: classes={len(classes)} survivors_expected={len(want)} "
              f"engine={len(got)} -> {'OK' if good else 'MISMATCH'}")
        if not good:
            w, g = set(want), set(got)
            print("  missing:", sorted(w - g)[:10])
            print("  extra:  ", sorted(g - w)[:10])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         int(sys.argv[3]) if len(sys.argv) > 3 else 6)
