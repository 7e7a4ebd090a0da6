#!/usr/bin/env python3
"""Staged DuckDB oracle for the r15 queries at derived-sf10 scale.

* dedup_semantic: the registered oracle's single WITH chain puts row_number windows
  over the corpus × cells cross product (3.2e8 rows at sf10 — the r13 window-memory
  buster). Staged into materialized tables with each arg-max assignment expressed as a
  packed-max HASH AGGREGATE (the r13 packed-min discipline): maximize (dot, -cid)
  lexicographically == maximize (dot + OFF) * M + (M - 1 - rn) for rn the dense
  0-based seed index.

* dedup_video_partial_rel: r14's video partial-copy staging (frame moment signatures,
  splice construction from the source slices) with the rarity cap computed as the
  engine's relative bar — greatest(4, ceil(nClips / 1e5)) over documents + splices.

* dedup_audio_admit_stream / dedup_video_admit_stream: the modality's near-dup hash
  staging (r14 ahh/vhh) over the three-way ADMISSION population (existing side sw=0,
  fresh arrivals sw=0, twins of existing at +2M sw=1 — sw IS the twin perturbation:
  the in-window / in-frame-segment byte swap), then the shared index/probe/verify/
  decision tail of the image admission oracle.

Comparison is in-DuckDB multiset equality (EXCEPT ALL both ways), as in r13/r14.

Usage: tools/r15_oracle_sf10.py <sfDir> <engineVerifyOut> [--db path] [--only q1,q2]
"""
import itertools
import os
import sys
import time

import duckdb

from duckmem import memory_limit

DUP_OFFSET = 1000000
TWIN_OFFSET = 2000000
SPLICE_OFFSET = 2000000
SEED_BASE = 20
CELL_DIVISOR = 250
EPS_MILLI = 1000000
DOT_OFF = 1 << 41  # |dot| < 2^41 (64 dims x milli^2 magnitudes); asserted below
VIDEO_SIG_MAX_DF = 4
VIDEO_SIG_RARE_DENOM = 100000
ADMIT_HAMMING = 2


def phash_block_sql(blocks):
    widths = [64 // blocks + (1 if m < 64 % blocks else 0) for m in range(blocks)]
    starts = [0]
    for w in widths:
        starts.append(starts[-1] + w)
    out = []
    for m in range(blocks):
        lo, hi = starts[m], starts[m] + widths[m]
        pieces = []
        for b in range(lo // 16, (hi - 1) // 16 + 1):
            b_lo = max(lo, 16 * b) - 16 * b
            b_hi = min(hi, 16 * (b + 1)) - 16 * b
            rsh, w, lsh = 16 - b_hi, b_hi - b_lo, hi - min(hi, 16 * (b + 1))
            core = f"band_{b}" if rsh == 0 else f"(band_{b} // {1 << rsh})"
            masked = f"({core} % {1 << w})"
            pieces.append(masked if lsh == 0 else f"({masked} * {1 << lsh})")
        out.append("(" + " + ".join(pieces) + ")")
    return out, widths


def phash_combo_key_sql(blocks, k):
    blks, widths = phash_block_sql(blocks)
    keys = []
    for c in itertools.combinations(range(blocks), k):
        acc = blks[c[0]]
        for m in c[1:]:
            acc = f"(({acc}) * {1 << widths[m]} + {blks[m]})"
        keys.append(acc)
    return keys


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    dbpath = "target/r15_oracle.duckdb"
    only = None
    args = sys.argv[3:]
    while args:
        if args[0] == "--db":
            dbpath = args[1]; args = args[2:]
        elif args[0] == "--only":
            only = set(args[1].split(",")); args = args[2:]
        else:
            raise SystemExit(f"unknown arg {args[0]}")
    for suffix in ("", ".wal"):
        if os.path.exists(dbpath + suffix):
            os.remove(dbpath + suffix)
    con = duckdb.connect(dbpath)
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    con.execute(f"PRAGMA memory_limit='{memory_limit()}'")
    os.makedirs("target/duck_tmp", exist_ok=True)
    con.execute("PRAGMA temp_directory='target/duck_tmp'")

    for t in ("embeddings", "documents"):
        p = f"{sfdir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")

    def stage(name, sql):
        t0 = time.time()
        con.execute(f"CREATE TABLE {name} AS {sql}")
        n = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"[stage] {name}: {n} rows in {time.time()-t0:.1f}s", flush=True)

    queries = {}

    # ---- dedup_semantic: staged SemDeDup with packed-max assignments ----
    if only is None or "dedup_semantic" in only:
        stage("qq", f"""
          WITH q0 AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
            FROM embeddings),
          qd AS (SELECT vec_id, qv FROM q0
            UNION ALL SELECT vec_id + {DUP_OFFSET} AS vec_id, qv FROM q0)
          SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM qd""")
        nc = con.execute(
            f"SELECT greatest(8, (SELECT count(*) FROM embeddings) // {CELL_DIVISOR})"
        ).fetchone()[0]
        # dense 0-based seed index rn: row_number over vec_id asc == ascending cid, so
        # lexicographic (dot desc, cid asc) == (dot desc, rn asc) and the packing
        # decodes the engine's tie-break exactly
        mod = 1
        while mod <= nc:
            mod <<= 1
        # the engine selects seeds from the FULL doubled pool; the vec_id < DUP_OFFSET
        # restriction here is only safe while the copy-0 id pool covers nc seeds —
        # assert it, or a big-K / small-corpus run would silently stage different
        # seeds and report a spurious FAIL (ADVICE r15 #2)
        pool = con.execute(
            f"SELECT count(*) FROM qq WHERE vec_id >= {SEED_BASE} AND vec_id < {DUP_OFFSET}"
        ).fetchone()[0]
        assert nc <= pool, (
            f"nCents={nc} exceeds the copy-0 seed pool ({pool} ids in "
            f"[{SEED_BASE}, {DUP_OFFSET})); drop the < DUP_OFFSET filter for this corpus")
        stage("c0", f"""
          SELECT cid, cvec, rn FROM (
            SELECT vec_id AS cid, qv AS cvec,
                   row_number() OVER (ORDER BY vec_id) - 1 AS rn
            FROM qq WHERE vec_id >= {SEED_BASE} AND vec_id < {DUP_OFFSET})
          WHERE rn < {nc}""")
        print(f"[info] nCents={nc} packing mod={mod}", flush=True)
        maxdot = con.execute(
            "SELECT max(abs(CAST(list_dot_product(qv, qv) AS BIGINT))) FROM qq"
        ).fetchone()[0]
        assert maxdot < DOT_OFF, f"dot magnitude {maxdot} breaks the packing offset"

        def argmax_assign(out, cents):
            # packed-max arg-max: max dot, ties to the LOWEST rn (== lowest cid)
            stage(out, f"""
              SELECT vec_id,
                {mod - 1} - (max((dot + {DOT_OFF}) * {mod} + ({mod - 1} - rn)) % {mod}) AS rn
              FROM (SELECT qq.vec_id, c.rn,
                      CAST(list_dot_product(qq.qv, c.cvec) AS BIGINT) AS dot
                    FROM qq, {cents} c)
              GROUP BY vec_id""")

        argmax_assign("a1", "c0")
        # one Lloyd update: per-(cell, pos) integer floor-mean over assigned members
        stage("c1", """
          SELECT rn, cid, list(cd ORDER BY pos) AS cvec FROM (
            SELECT a1.rn, c0.cid, u.pos,
                   CAST(floor(CAST(sum(u.v) AS DOUBLE) / count(*)) AS BIGINT) AS cd
            FROM a1
            JOIN qq ON qq.vec_id = a1.vec_id
            JOIN c0 ON c0.rn = a1.rn,
            LATERAL (SELECT unnest(qq.qv) AS v, generate_subscripts(qq.qv, 1) AS pos) u
            GROUP BY a1.rn, c0.cid, u.pos)
          GROUP BY rn, cid""")
        argmax_assign("a2", "c1")
        stage("assigned", """
          SELECT a2.vec_id, c1.cid AS cell, qq.qv, qq.vv
          FROM a2 JOIN c1 ON c1.rn = a2.rn JOIN qq ON qq.vec_id = a2.vec_id""")
        stage("sempr", f"""
          SELECT DISTINCT a.vec_id FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id > b.vec_id
            AND a.vv - 2 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT) + b.vv <= {EPS_MILLI}""")
        queries["dedup_semantic"] = """
          SELECT a.vec_id, a.cell, (sempr.vec_id IS NOT NULL) AS dropped
          FROM assigned a LEFT JOIN sempr ON sempr.vec_id = a.vec_id"""

    # ---- simsearch_stream_ivfpq: staged IVFADC-R over the 4000-query feed ----
    # The one-shot oracle joins enc (corpus × 8 subspace rows) through probes × lut,
    # which fans to ~1.6e9 intermediate rows at sf10. Staged instead as ARRAYS: one
    # codes list per vector, one flat 32-slot ADC lut list per query — the pair table
    # (query × cell-gated candidates, ~2e8 rows) computes adist as a per-row list
    # expression with NO join fanout, and the per-query top-R shortlist is a sorted
    # LIST aggregate (the r13 "no windows over giant frames" discipline).
    if only is None or "simsearch_stream_ivfpq" in only:
        Q_SET = "vec_id % 50 = 7"
        PQ_M, PQ_SUBDIM, PQ_K, PQ_SEED = 8, 8, 4, 30
        NPROBE, RERANK_R, TOPK = 2, 30, 10
        CENTS = ", ".join(str(c) for c in range(20, 28))
        stage("se", """
          SELECT vec_id,
            list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
          FROM embeddings""")
        stage("ssvv", f"""
          SELECT vec_id, s, sv, CAST(list_dot_product(sv, sv) AS BIGINT) AS svv FROM (
            SELECT vec_id, s, list_slice(qv, s*{PQ_SUBDIM} + 1, s*{PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
            FROM se, (SELECT unnest(range({PQ_M})) AS s) ss)""")
        stage("scb", f"""
          SELECT s, CAST(vec_id - {PQ_SEED} AS INT) AS code, sv AS cw, svv AS cc
          FROM ssvv WHERE vec_id BETWEEN {PQ_SEED} AND {PQ_SEED + PQ_K - 1}""")
        stage("senc0", """
          SELECT v.vec_id, v.s, cb.code,
            v.svv - 2 * CAST(list_dot_product(v.sv, cb.cw) AS BIGINT) + cb.cc AS d
          FROM ssvv v JOIN scb cb ON v.s = cb.s""")
        # nearest codeword per (vec, s) via packed min (d < 2^42, code < 4)
        stage("svcodes", f"""
          SELECT vec_id, list_transform(list(mc ORDER BY s), x -> x % 4) AS codes FROM (
            SELECT vec_id, s, min(d * 4 + code) AS mc FROM senc0 GROUP BY vec_id, s)
          GROUP BY vec_id""")
        stage("sqlut", f"""
          SELECT vec_id AS q_id, list(d ORDER BY s, code) AS lut
          FROM senc0 WHERE {Q_SET} GROUP BY vec_id""")
        # max-dot cell, ties to the lower cid — packed max (|dot| < 2^41, cid < 28)
        stage("sa1", f"""
          SELECT vec_id, 31 - (max((dot + {DOT_OFF}) * 32 + (31 - cid)) % 32) AS cell FROM (
            SELECT se.vec_id, c0.cid, CAST(list_dot_product(se.qv, c0.cvec) AS BIGINT) AS dot
            FROM se, (SELECT vec_id AS cid, qv AS cvec FROM se WHERE vec_id IN ({CENTS})) c0)
          GROUP BY vec_id""")
        stage("sprobes", f"""
          SELECT q_id, cid AS p_cell FROM (
            SELECT vec_id AS q_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
            FROM (SELECT se.vec_id, c0.cid,
                    CAST(list_dot_product(se.qv, c0.cvec) AS BIGINT) AS dot
                  FROM se, (SELECT vec_id AS cid, qv AS cvec FROM se WHERE vec_id IN ({CENTS})) c0)
            WHERE {Q_SET}) WHERE rn <= {NPROBE}""")
        adist_expr = " + ".join(
            f"lut[codes[{s + 1}] + {s * PQ_K} + 1]" for s in range(PQ_M))
        stage("sadist", f"""
          SELECT pr.q_id, a.vec_id, CAST({adist_expr} AS BIGINT) AS adist
          FROM sa1 a
          JOIN sprobes pr ON a.cell = pr.p_cell AND a.vec_id <> pr.q_id
          JOIN svcodes vc ON vc.vec_id = a.vec_id
          JOIN sqlut ql ON ql.q_id = pr.q_id""")
        stage("sshortl", f"""
          SELECT q_id, u.t['v'] AS vec_id, u.t['a'] AS adist FROM (
            SELECT q_id,
              list_sort(list({{'a': adist, 'v': vec_id}}))[1:{RERANK_R}] AS top
            FROM sadist GROUP BY q_id), LATERAL (SELECT unnest(top) AS t) u""")
        queries["simsearch_stream_ivfpq"] = f"""
          WITH qq AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM se),
          qs AS (SELECT vec_id AS q_id, qv AS eqv, vv AS evv FROM qq WHERE {Q_SET}),
          rr AS (SELECT sl.q_id, sl.vec_id, sl.adist,
            q.vv - 2 * CAST(list_dot_product(q.qv, qs.eqv) AS BIGINT) + qs.evv AS d
            FROM sshortl sl JOIN qq q ON sl.vec_id = q.vec_id JOIN qs ON sl.q_id = qs.q_id)
          SELECT q_id, rnk, vec_id, d, adist FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM rr)
          WHERE rnk <= {TOPK}"""

    # ---- video partial-copy, RELATIVE rarity cap (r15) ----
    if only is None or "dedup_video_partial_rel" in only:
        pbyte = "('0x' || substr(hex(p), 2*(ffrom + o) + 1, 2))::BIGINT"
        stage("vpso", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 10, 1) AS chunk FROM b),
          fo AS (SELECT doc_id, f, p,
                   least(f * chunk, len) AS ffrom,
                   least(least(f * chunk, len) + chunk, len) AS fto
                 FROM c, (SELECT unnest(range(10)) AS f) ff)
          SELECT doc_id, f, fto - ffrom AS flen,
            coalesce(list_sum([{pbyte} for o in range(0, fto - ffrom)]), 0) AS s0,
            coalesce(list_sum([(o + 1) * {pbyte} for o in range(0, fto - ffrom)]), 0) AS s1
          FROM fo""")
        stage("vpspl", "SELECT a.doc_id AS sid, b2.doc_id AS eid FROM "
              "(SELECT doc_id FROM documents) a JOIN (SELECT doc_id FROM documents) b2 "
              "ON b2.doc_id = a.doc_id + 1 WHERE a.doc_id % 7 = 3")
        stage("vpdsig", f"""
          SELECT DISTINCT doc_id, flen, s0, s1 FROM (
            SELECT doc_id, flen, s0, s1 FROM vpso
            UNION ALL
            SELECT spl.sid + {SPLICE_OFFSET} AS doc_id, so.flen, so.s0, so.s1
              FROM vpspl spl JOIN vpso so ON so.doc_id = spl.sid WHERE so.f < 5
            UNION ALL
            SELECT spl.sid + {SPLICE_OFFSET}, so.flen, so.s0, so.s1
              FROM vpspl spl JOIN vpso so ON so.doc_id = spl.eid WHERE so.f >= 5)
          WHERE flen > 0""")
        cap = con.execute(f"""
          SELECT greatest({VIDEO_SIG_MAX_DF},
            ((SELECT count(*) FROM documents)
             + (SELECT count(*) FROM documents da JOIN documents db
                  ON db.doc_id = da.doc_id + 1 WHERE da.doc_id % 7 = 3)
             + {VIDEO_SIG_RARE_DENOM - 1}) // {VIDEO_SIG_RARE_DENOM})""").fetchone()[0]
        print(f"[info] video_partial_rel cap={cap}", flush=True)
        stage("vprare", "SELECT flen, s0, s1 FROM (SELECT flen, s0, s1, count(*) AS df "
              f"FROM vpdsig GROUP BY 1, 2, 3) WHERE df <= {cap}")
        stage("vpdr", "SELECT d.* FROM vpdsig d JOIN vprare USING (flen, s0, s1)")
        queries["dedup_video_partial_rel"] = """
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, cast(count(*) AS BIGINT) AS shared_frames
          FROM vpdr x JOIN vpdr y ON x.flen = y.flen AND x.s0 = y.s0 AND x.s1 = y.s1
            AND x.doc_id < y.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 3"""

    # ---- image near-dup, STAR output (r15 — the sf100 all-pairs knee closed) ----
    if only is None or "dedup_image_phash_stars" in only:
        idx = "((k // 8) * h // 8) * 8 + (k % 8)"
        byte = f"('0x' || substr(hex(p), 2*({idx}) + 1, 2))::BIGINT"
        pert = ("CASE WHEN pert = 1 AND NOT list_contains("
                "[(j * h) // 8 for j in range(0, 8)], (k // 8) * h // 8) THEN 1 ELSE 0 END")
        band_defs = ",\n".join(
            f"cast(list_sum([CASE WHEN sv[k+1]*64 >= tot THEN (1 << (k - {16*b})) ELSE 0 END "
            f"for k in range({16*b}, {16*(b+1)})]) AS BIGINT) AS band_{b}"
            for b in range(4))
        stage("ishh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 8, 1) AS h FROM b),
          m AS (SELECT doc_id, p, len, h, 0 AS pert FROM c
                UNION ALL SELECT doc_id + {DUP_OFFSET}, p, len, h, 1 FROM c),
          s AS (SELECT doc_id,
            [CASE WHEN {idx} < len THEN ({byte} + {pert}) % 256 ELSE 0 END
             for k in range(0, 64)] AS sv FROM m),
          hb AS (SELECT doc_id, list_sum(sv) AS tot, sv FROM s)
          SELECT doc_id, {band_defs} FROM hb""")
        stage("isvals",
              "SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM ishh "
              "GROUP BY 1, 2, 3, 4")
        stage("isdoc",
              "SELECT h.doc_id, v.hid FROM ishh h JOIN isvals v USING (band_0, band_1, band_2, band_3)")
        isarms = " UNION ALL ".join(
            f"SELECT hid, {ci} AS ci, {expr} AS cv FROM isvals"
            for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
        stage("isbands", isarms)
        stage("iscand",
              "SELECT DISTINCT a.hid AS hid_a, b.hid AS hid_b FROM isbands a "
              "JOIN isbands b ON a.ci = b.ci AND a.cv = b.cv AND a.hid < b.hid")
        isham = " + ".join(f"bit_count(xor(va.band_{b}, vb.band_{b}))" for b in range(4))
        queries["dedup_image_phash_stars"] = f"""
          SELECT hid AS doc_a, doc_id AS doc_b, cast(0 AS BIGINT) AS ham_dist
          FROM isdoc WHERE doc_id <> hid
          UNION ALL
          SELECT c.hid_a AS doc_a, c.hid_b AS doc_b, cast({isham} AS BIGINT) AS ham_dist
          FROM iscand c JOIN isvals va ON va.hid = c.hid_a JOIN isvals vb ON vb.hid = c.hid_b
          WHERE {isham} BETWEEN 1 AND {ADMIT_HAMMING}"""

    # ---- audio partial-copy: window moment signatures, relative cap (r15) ----
    if only is None or "dedup_audio_partial" in only:
        AUDIO_WIN, AUDIO_CUT_W, AUDIO_MIN_SHARED = 64, 5, 3
        cut = AUDIO_CUT_W * AUDIO_WIN
        abyte = f"('0x' || substr(hex(p), 2*(w * {AUDIO_WIN} + o) + 1, 2))::BIGINT"
        awlen = f"(least(w * {AUDIO_WIN} + {AUDIO_WIN}, len) - w * {AUDIO_WIN})"
        stage("apso", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents)
          SELECT doc_id, w, {awlen} AS flen,
            coalesce(list_sum([{abyte} for o in range(0, {awlen})]), 0) AS s0,
            coalesce(list_sum([(o + 1) * {abyte} for o in range(0, {awlen})]), 0) AS s1
          FROM (SELECT doc_id, p, len,
                  unnest(range((len + {AUDIO_WIN - 1}) // {AUDIO_WIN})) AS w FROM b)""")
        stage("apspl", f"""
          SELECT a.doc_id AS sid, b2.doc_id AS eid
          FROM (SELECT doc_id, octet_length(encode(text)) AS len FROM documents) a
          JOIN (SELECT doc_id, octet_length(encode(text)) AS len FROM documents) b2
            ON b2.doc_id = a.doc_id + 1
          WHERE a.doc_id % 7 = 3 AND a.len >= {cut} AND b2.len > {cut}""")
        stage("apdsig", f"""
          SELECT DISTINCT doc_id, flen, s0, s1 FROM (
            SELECT doc_id, flen, s0, s1 FROM apso
            UNION ALL
            SELECT spl.sid + {SPLICE_OFFSET} AS doc_id, so.flen, so.s0, so.s1
              FROM apspl spl JOIN apso so ON so.doc_id = spl.sid WHERE so.w < {AUDIO_CUT_W}
            UNION ALL
            SELECT spl.sid + {SPLICE_OFFSET}, so.flen, so.s0, so.s1
              FROM apspl spl JOIN apso so ON so.doc_id = spl.eid WHERE so.w >= {AUDIO_CUT_W})
          WHERE flen > 0""")
        acap = con.execute(f"""
          SELECT greatest({VIDEO_SIG_MAX_DF},
            ((SELECT count(*) FROM documents)
             + (SELECT count(*) FROM (SELECT doc_id, octet_length(encode(text)) AS len FROM documents) a
                JOIN (SELECT doc_id, octet_length(encode(text)) AS len FROM documents) b2
                  ON b2.doc_id = a.doc_id + 1
                WHERE a.doc_id % 7 = 3 AND a.len >= {cut} AND b2.len > {cut})
             + {VIDEO_SIG_RARE_DENOM - 1}) // {VIDEO_SIG_RARE_DENOM})""").fetchone()[0]
        print(f"[info] audio_partial cap={acap}", flush=True)
        stage("aprare", "SELECT flen, s0, s1 FROM (SELECT flen, s0, s1, count(*) AS df "
              f"FROM apdsig GROUP BY 1, 2, 3) WHERE df <= {acap}")
        stage("apdr", "SELECT d.* FROM apdsig d JOIN aprare USING (flen, s0, s1)")
        queries["dedup_audio_partial"] = f"""
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, cast(count(*) AS BIGINT) AS shared_windows
          FROM apdr x JOIN apdr y ON x.flen = y.flen AND x.s0 = y.s0 AND x.s1 = y.s1
            AND x.doc_id < y.doc_id
          GROUP BY 1, 2 HAVING count(*) >= {AUDIO_MIN_SHARED}"""

    # ---- shared admission tail over a staged {pfx}hh(doc_id, side, band_0..3) ----
    def admit_tail(pfx):
        stage(f"{pfx}exvals",
              f"SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM {pfx}hh "
              "WHERE side = 'ex' GROUP BY 1, 2, 3, 4")
        stage(f"{pfx}inh",
              f"SELECT doc_id, band_0, band_1, band_2, band_3 FROM {pfx}hh WHERE side = 'in'")
        earms = " UNION ALL ".join(
            f"SELECT hid, {ci} AS ci, {expr} AS cv FROM {pfx}exvals"
            for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
        iarms = " UNION ALL ".join(
            f"SELECT doc_id, {ci} AS ci, {expr} AS cv FROM {pfx}inh"
            for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
        stage(f"{pfx}ebands", earms)
        stage(f"{pfx}ibands", iarms)
        stage(f"{pfx}cand",
              f"SELECT DISTINCT i.doc_id, e.hid FROM {pfx}ibands i "
              f"JOIN {pfx}ebands e ON i.ci = e.ci AND i.cv = e.cv")
        ham = " + ".join(f"bit_count(xor(i2.band_{b}, ev.band_{b}))" for b in range(4))
        stage(f"{pfx}best", f"""
          SELECT doc_id, hid, ham FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ham, hid) AS rn FROM (
              SELECT c2.doc_id, c2.hid, cast({ham} AS BIGINT) AS ham
              FROM {pfx}cand c2 JOIN {pfx}inh i2 ON i2.doc_id = c2.doc_id
              JOIN {pfx}exvals ev ON ev.hid = c2.hid
              WHERE {ham} <= {ADMIT_HAMMING})) WHERE rn = 1""")
        return f"""
          SELECT i.doc_id,
            CASE WHEN {pfx}best.hid IS NOT NULL THEN 'near_dup' ELSE 'admitted' END AS status,
            {pfx}best.hid AS match_hid, {pfx}best.ham AS ham_dist
          FROM {pfx}inh i LEFT JOIN {pfx}best USING (doc_id)"""

    admit_pop = (f"m AS (SELECT doc_id, p, len{{extra}}, 0 AS sw, 'ex' AS side FROM {{src}} WHERE doc_id % 5 <> 0 "
                 f"UNION ALL SELECT doc_id, p, len{{extra}}, 0, 'in' FROM {{src}} WHERE doc_id % 5 = 0 "
                 f"UNION ALL SELECT doc_id + {TWIN_OFFSET}, p, len{{extra}}, 1, 'in' FROM {{src}} "
                 f"WHERE doc_id % 5 <> 0 AND doc_id % 9 = 2)")

    # ---- audio admission gate: energy-fingerprint chain over the admit population ----
    if only is None or "dedup_audio_admit_stream" in only:
        aidx = "(CASE WHEN sw = 1 AND xor(i, 1) < len THEN xor(i, 1) ELSE i END)"
        abyte = f"('0x' || substr(hex(p), 2*{aidx} + 1, 2))::BIGINT"
        def bit(t):
            if t < 32:
                return f"gv[{t + 1}] * 32 >= tot"
            if t == 32:
                return "TRUE"
            return f"gv[{t - 31}] >= gv[{t - 32}]"
        aband_defs = ",\n".join(
            "CASE WHEN nw = 0 THEN 0 ELSE cast(" +
            " + ".join(f"CASE WHEN {bit(t)} THEN {1 << (t - 16*b)} ELSE 0 END"
                       for t in range(16 * b, 16 * (b + 1))) +
            f" AS BIGINT) END AS band_{b}"
            for b in range(4))
        stage("aahh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          {admit_pop.format(src='b', extra='')},
          sv AS (SELECT doc_id, side, len, [{abyte} for i in range(0, len)] AS v FROM m),
          e AS (SELECT doc_id, side, len,
            [coalesce(list_sum([(v[i+1] - 128) * (v[i+1] - 128)
               for i in range(w*64, least((w+1)*64, len))]), 0)
             for w in range(0, (len + 63) // 64)] AS ew FROM sv),
          g AS (SELECT doc_id, side, len(ew) AS nw,
            [ew[(k * len(ew)) // 32 + 1] for k in range(0, 32)] AS gv,
            coalesce(list_sum([ew[(k * len(ew)) // 32 + 1] for k in range(0, 32)]), 0) AS tot
            FROM e)
          SELECT doc_id, side, {aband_defs} FROM g""")
        queries["dedup_audio_admit_stream"] = admit_tail("aa")

    # ---- video admission gate: shot-envelope chain over the admit population ----
    if only is None or "dedup_video_admit_stream" in only:
        fi = "(i // chunk)"
        flen_i = f"(least({fi} * chunk + chunk, len) - {fi} * chunk)"
        vidx = (f"(CASE WHEN sw = 1 AND xor(i, 1) < len AND {fi} = (xor(i, 1) // chunk) "
                f"AND {fi} < 10 AND (6 * (i - {fi} * chunk) + 5) // {flen_i} = "
                f"(6 * (xor(i, 1) - {fi} * chunk) + 5) // {flen_i} THEN xor(i, 1) ELSE i END)")
        vbyte = f"('0x' || substr(hex(p), 2*{vidx} + 1, 2))::BIGINT"
        f_from = "least((t // 6) * chunk, len)"
        vflen = f"(least({f_from} + chunk, len) - {f_from})"
        vb0 = f"((t % 6) * {vflen} // 6)"
        vb1 = f"(((t % 6) + 1) * {vflen} // 6)"
        vsegsum = f"coalesce(list_sum([v[{f_from} + o + 1] for o in range({vb0}, {vb1})]), 0)"
        vframesum = f"coalesce(list_sum([v[{f_from} + o + 1] for o in range(0, {vflen})]), 0)"
        vband_defs = ",\n".join(
            f"cast(coalesce(list_sum([CASE WHEN bv[k+1] = 1 THEN 1 << (k - {16*b}) ELSE 0 END "
            f"for k in range({16*b}, {min(16*(b+1), 60)})]), 0) AS BIGINT) AS band_{b}"
            for b in range(4))
        stage("vahh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 10, 1) AS chunk FROM b),
          {admit_pop.format(src='c', extra=', chunk')},
          sv AS (SELECT doc_id, side, len, chunk, [{vbyte} for i in range(0, len)] AS v FROM m),
          bits AS (SELECT doc_id, side,
            [CASE WHEN {vflen} > 0 AND {vb1} > {vb0}
                  AND {vsegsum} * {vflen} >= {vframesum} * ({vb1} - {vb0}) THEN 1 ELSE 0 END
             for t in range(0, 60)] AS bv FROM sv)
          SELECT doc_id, side, {vband_defs} FROM bits""")
        queries["dedup_video_admit_stream"] = admit_tail("va")

    npass = nfail = 0
    for name, sql in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        qdir = os.path.join(outdir, name)
        if not os.path.isdir(qdir):
            print(f"SKIP {name}: no engine dump at {qdir}", flush=True)
            continue
        con.execute("DROP VIEW IF EXISTS spark_out")
        con.execute("DROP TABLE IF EXISTS duck_out")
        con.execute(f"CREATE VIEW spark_out AS SELECT * FROM '{qdir}/*.parquet'")
        con.execute(f"CREATE TABLE duck_out AS {sql}")
        scols = [r[0] for r in con.execute("DESCRIBE spark_out").fetchall()]
        dcols = [r[0] for r in con.execute("DESCRIBE duck_out").fetchall()]
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: SCHEMA spark={sorted(scols)} duck={sorted(dcols)}", flush=True)
            nfail += 1
            continue
        cols = ", ".join(sorted(scols))
        ns = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
        nd = con.execute("SELECT count(*) FROM duck_out").fetchone()[0]
        if ns != nd:
            print(f"FAIL {name}: ROWS spark={ns} duck={nd}", flush=True)
            nfail += 1
            continue
        diff = con.execute(f"""
          SELECT count(*) FROM (
            (SELECT {cols} FROM spark_out EXCEPT ALL SELECT {cols} FROM duck_out)
            UNION ALL
            (SELECT {cols} FROM duck_out EXCEPT ALL SELECT {cols} FROM spark_out))""").fetchone()[0]
        if diff != 0:
            print(f"FAIL {name}: VALUES {diff} multiset-diff rows", flush=True)
            nfail += 1
        else:
            print(f"PASS {name}: rows={ns} multiset-equal in {time.time()-t0:.1f}s", flush=True)
            npass += 1
    print(f"{npass} pass, {nfail} fail", flush=True)
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
