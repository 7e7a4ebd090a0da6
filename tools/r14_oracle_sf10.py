#!/usr/bin/env python3
"""Staged DuckDB oracle for the r14 winnow queries at derived-sf10 scale — the
r13_oracle_sf10.py discipline (file-backed memory-capped DuckDB, each oracle CTE
materialized, the winnowing selection expressed as the packed-min hash aggregate that
is value-identical to the oracle's row_number window but does not bust the memory cap):

* dedup_winnow_pairs_rel: the SAME doubled-corpus staging as r13's dedup_winnow_pairs,
  plus the relative df cap greatest(4, ceil(N/1e5)) computed from the staged corpus
  count — the tail (rare/nper/shared/containment) is the verbatim oracle SQL.

* dedup_winnow_admit_stream / dedup_winnow_admit_incremental: ONE staging over the
  admission source (all documents ∪ ' graftdup' twins of existing %7==1 docs at
  +2_000_000) — winnowing is per-document, so each query's per-pipeline selection is a
  doc_id RESTRICTION of the combined selection. Membership is pure id arithmetic:
  real docs have doc_id % 1e7 < 2e6 (GenScale copies sit at c·1e7 + orig, orig < 5000;
  plain dirs have orig < 1e6), twins sit at +2e6 within the copy range; existing =
  real ∧ id%5≠0, feed = (real ∧ id%5=0) ∪ twin, waves split feed by id parity (twin
  parity = original parity since 2e6 is even).

* dedup_video_phash: the image/audio staging discipline for the frame/segment
  envelope fingerprint — the swapped-copy byte rule, per-(frame, segment) sums and
  threshold bits staged per doc, then the shared value-level pair-key tail.

Comparison is in-DuckDB multiset equality (EXCEPT ALL both ways), as in r13.

Usage: tools/r14_oracle_sf10.py <sfDir> <engineVerifyOut> [--db path] [--only q1,q2]
"""
import os
import sys
import time

import duckdb

from duckmem import memory_limit

K = 6
W = 4
B = 256
M = 1000000007
DUP_OFFSET = 1000000
COPY_SHIFT = 10000000
TWIN_OFFSET = 2000000
MAX_DF = 4
MIN_SHARED = 2
RARE_DENOM = 100000
PHASH33_BAR = 3
AUDIO_BAR = 2
VIDEO_BAR = 2
SPLICE_OFFSET = 2000000


def phash_block_sql(blocks):
    """DuckDB renderings of the engine's block-value arithmetic — the same top-aligned
    near-equal piece decomposition as graft.ext.Multimodal.phashBlockSql."""
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
    import itertools
    blks, widths = phash_block_sql(blocks)
    keys = []
    for c in itertools.combinations(range(blocks), k):
        acc = blks[c[0]]
        for m in c[1:]:
            acc = f"(({acc}) * {1 << widths[m]} + {blks[m]})"
        keys.append(acc)
    return keys


def gram_hash_sql():
    acc = "0::BIGINT"
    for t in range(K):
        acc = f"(({acc}) * {B} + ascii(substr(text, (i + {t + 1})::INT, 1))) % {M}"
    return acc


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    dbpath = "target/r14_oracle.duckdb"
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

    p = f"{sfdir}/documents.parquet"
    src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM {src}")

    def stage(name, sql):
        t0 = time.time()
        con.execute(f"CREATE TABLE {name} AS {sql}")
        n = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"[stage] {name}: {n} rows in {time.time()-t0:.1f}s", flush=True)

    def stage_winnow(prefix, source_sql):
        """The r13 packed-min winnowing staging, parameterized by table prefix so two
        sources can coexist: emits {prefix}sel (doc_id, i, hv) and {prefix}fps."""
        stage(f"{prefix}d", source_sql)
        stage(f"{prefix}g",
              f"SELECT doc_id, text, greatest(length(text) - {K - 1}, 0) AS nh FROM {prefix}d")
        stage(f"{prefix}h",
              f"SELECT doc_id, u.i AS i, u.hv AS hv FROM ("
              f"SELECT doc_id, unnest([{{'i': i, 'hv': {gram_hash_sql()}}} "
              f"for i in range(0, nh)]) AS u FROM {prefix}g)")
        max_nh = con.execute(f"SELECT max(nh) FROM {prefix}g").fetchone()[0]
        if max_nh >= (1 << 20):
            raise SystemExit(f"gram count {max_nh} exceeds the 20-bit position packing")
        pk = 1 << 20
        offs = ", ".join(str(x) for x in range(W))
        stage(f"{prefix}nh", f"SELECT doc_id, nh FROM {prefix}g WHERE nh > 0")
        stage(f"{prefix}sel", f"""
          SELECT DISTINCT doc_id,
            ({pk} - 1) - (minp % {pk}) AS i,
            minp // {pk} AS hv
          FROM (
            SELECT g.doc_id, g.i - t.v AS j,
              min(g.hv * {pk} + ({pk} - 1 - g.i)) AS minp
            FROM {prefix}h g
            CROSS JOIN unnest([{offs}]) AS t(v)
            JOIN {prefix}nh n ON n.doc_id = g.doc_id
            WHERE (n.nh >= {W} AND g.i - t.v BETWEEN 0 AND n.nh - {W})
               OR (n.nh < {W} AND g.i - t.v = 0)
            GROUP BY g.doc_id, g.i - t.v)""")
        stage(f"{prefix}fps", f"SELECT DISTINCT doc_id, hv AS fp FROM {prefix}sel")

    queries = {}

    # ---- relative-rarity pairs: doubled-corpus staging + corpus-count cap ----
    if only is None or "dedup_winnow_pairs_rel" in only:
        stage_winnow("r",
                     f"SELECT doc_id, text FROM documents UNION ALL "
                     f"SELECT doc_id + {DUP_OFFSET}, text || ' graftdup' FROM documents")
        stage("rdfreq", "SELECT fp, count(*) AS df FROM rfps GROUP BY fp")
        stage("rcap",
              f"SELECT greatest({MAX_DF}, (count(*) + {RARE_DENOM - 1}) // {RARE_DENOM}) "
              f"AS cap FROM rd")
        cap = con.execute("SELECT cap FROM rcap").fetchone()[0]
        print(f"[info] relative df cap = {cap}", flush=True)
        stage("rrare",
              "SELECT f.doc_id, f.fp FROM rfps f JOIN rdfreq USING (fp), rcap "
              "WHERE df <= rcap.cap")
        stage("rnper", "SELECT doc_id, count(*) AS n FROM rrare GROUP BY doc_id")
        stage("rshared",
              "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared "
              "FROM rrare a JOIN rrare b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2")
        queries["dedup_winnow_pairs_rel"] = f"""
          SELECT s.doc_a, s.doc_b, cast(s.n_shared AS BIGINT) AS n_shared,
            cast(na.n AS BIGINT) AS n_a, cast(nb.n AS BIGINT) AS n_b
          FROM rshared s JOIN rnper na ON na.doc_id = s.doc_a
            JOIN rnper nb ON nb.doc_id = s.doc_b
          WHERE 5 * s.n_shared >= 4 * least(na.n, nb.n) AND s.n_shared >= {MIN_SHARED}
          ORDER BY doc_a, doc_b"""

    # ---- admission gates: one staging over documents ∪ feed twins ----
    if only is None or only & {"dedup_winnow_admit_stream", "dedup_winnow_admit_incremental", "dedup_winnow_admit_stream_incr", "dedup_winnow_admit_persist"}:
        stage_winnow("m",
                     f"SELECT doc_id, text FROM documents UNION ALL "
                     f"SELECT doc_id + {TWIN_OFFSET}, text || ' graftdup' FROM documents "
                     f"WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1")
        real = f"doc_id % {COPY_SHIFT} < {TWIN_OFFSET}"
        existing = f"({real} AND doc_id % 5 <> 0)"
        feed = f"(NOT {real} OR doc_id % 5 = 0)"
        # per-pipeline restrictions of the combined distinct (doc_id, fp) table
        stage("mexist", f"SELECT doc_id, fp FROM mfps WHERE {existing}")
        stage("mfeed", f"SELECT doc_id, fp FROM mfps WHERE {feed}")
        # ALL feed doc_ids (winnow-less docs must still emit a decision row)
        stage("mfeedd", f"SELECT doc_id FROM md WHERE {feed}")
        stage("medf", "SELECT fp, count(*) AS df FROM mexist GROUP BY fp")

        def decisions(name, docs_tbl, fps_tbl, df_tbl):
            stage(name, f"""
              SELECT d.doc_id,
                CASE WHEN n >= {MIN_SHARED} THEN 'near_dup' ELSE 'admitted' END AS status,
                n AS n_rare_matched
              FROM (
                SELECT d.doc_id, count(CASE WHEN r.fp IS NOT NULL THEN 1 END) AS n
                FROM {docs_tbl} d
                LEFT JOIN {fps_tbl} i ON i.doc_id = d.doc_id
                LEFT JOIN (SELECT fp FROM {df_tbl} WHERE df <= {MAX_DF}) r ON r.fp = i.fp
                GROUP BY d.doc_id) d""")

        # stream gate: whole feed against the frozen existing index
        decisions("mdec_stream", "mfeedd", "mfeed", "medf")
        queries["dedup_winnow_admit_stream"] = (
            "SELECT doc_id, status, cast(n_rare_matched AS BIGINT) AS n_rare_matched "
            "FROM mdec_stream ORDER BY doc_id")

        # incremental gate: wave 1 against existing, fold admitted, wave 2 against folded
        stage("mw1d", "SELECT doc_id FROM mfeedd WHERE doc_id % 2 = 0")
        stage("mw2d", "SELECT doc_id FROM mfeedd WHERE doc_id % 2 <> 0")
        stage("mw1fps", "SELECT f.doc_id, f.fp FROM mfeed f JOIN mw1d USING (doc_id)")
        stage("mw2fps", "SELECT f.doc_id, f.fp FROM mfeed f JOIN mw2d USING (doc_id)")
        decisions("mdec1", "mw1d", "mw1fps", "medf")
        stage("mdelta",
              "SELECT fp, count(*) AS df FROM mw1fps f "
              "JOIN mdec1 d USING (doc_id) WHERE d.status = 'admitted' GROUP BY fp")
        stage("mdf1",
              "SELECT fp, sum(df) AS df FROM "
              "(SELECT * FROM medf UNION ALL SELECT * FROM mdelta) GROUP BY fp")
        decisions("mdec2", "mw2d", "mw2fps", "mdf1")
        queries["dedup_winnow_admit_incremental"] = """
          SELECT doc_id, cast(1 AS BIGINT) AS wave, status,
                 cast(n_rare_matched AS BIGINT) AS n_rare_matched FROM mdec1
          UNION ALL
          SELECT doc_id, cast(2 AS BIGINT) AS wave, status,
                 cast(n_rare_matched AS BIGINT) AS n_rare_matched FROM mdec2
          ORDER BY doc_id"""
        # the streaming foreachBatch fold makes the SAME decisions (micro-batch = wave)
        queries["dedup_winnow_admit_stream_incr"] = queries["dedup_winnow_admit_incremental"]
        # the persisted-index run (r15: parquet round-trip between waves) likewise
        queries["dedup_winnow_admit_persist"] = queries["dedup_winnow_admit_incremental"]

    # ---- image phash33: verbatim r13 hh staging, (6,3) generator arms ----
    if only is None or "dedup_image_phash33" in only:
        idx = "((k // 8) * h // 8) * 8 + (k % 8)"
        byte = f"('0x' || substr(hex(p), 2*({idx}) + 1, 2))::BIGINT"
        pert = ("CASE WHEN pert = 1 AND NOT list_contains("
                "[(j * h) // 8 for j in range(0, 8)], (k // 8) * h // 8) THEN 1 ELSE 0 END")
        band_defs = ",\n".join(
            f"cast(list_sum([CASE WHEN sv[k+1]*64 >= tot THEN (1 << (k - {16*b})) ELSE 0 END "
            f"for k in range({16*b}, {16*(b+1)})]) AS BIGINT) AS band_{b}"
            for b in range(4))
        stage("ihh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 8, 1) AS h FROM b),
          m AS (SELECT doc_id, p, len, h, 0 AS pert FROM c
                UNION ALL SELECT doc_id + {DUP_OFFSET}, p, len, h, 1 FROM c),
          s AS (SELECT doc_id,
            [CASE WHEN {idx} < len THEN ({byte} + {pert}) % 256 ELSE 0 END
             for k in range(0, 64)] AS sv FROM m),
          hb AS (SELECT doc_id, list_sum(sv) AS tot, sv FROM s)
          SELECT doc_id, {band_defs} FROM hb""")
        stage("ivals",
              "SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM ihh "
              "GROUP BY 1, 2, 3, 4")
        stage("idoc",
              "SELECT h.doc_id, v.hid FROM ihh h JOIN ivals v USING (band_0, band_1, band_2, band_3)")
        arms = " UNION ALL ".join(
            f"SELECT hid, {ci} AS ci, {expr} AS cv FROM ivals"
            for ci, expr in enumerate(phash_combo_key_sql(6, 3)))
        stage("ibands", arms)
        stage("ivcand",
              "SELECT DISTINCT a.hid AS hid_a, b.hid AS hid_b FROM ibands a "
              "JOIN ibands b ON a.ci = b.ci AND a.cv = b.cv AND a.hid < b.hid")
        ham = " + ".join(f"bit_count(xor(va.band_{b}, vb.band_{b}))" for b in range(4))
        stage("ivpairs", f"""
          SELECT c.hid_a, c.hid_b, cast({ham} AS BIGINT) AS ham_dist
          FROM ivcand c JOIN ivals va ON va.hid = c.hid_a JOIN ivals vb ON vb.hid = c.hid_b
          WHERE {ham} BETWEEN 1 AND {PHASH33_BAR}""")
        queries["dedup_image_phash33"] = f"""
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0::BIGINT AS ham_dist
          FROM idoc a JOIN idoc b ON a.hid = b.hid AND a.doc_id < b.doc_id
          UNION ALL
          SELECT least(da.doc_id, db.doc_id) AS doc_a,
                 greatest(da.doc_id, db.doc_id) AS doc_b, p.ham_dist
          FROM ivpairs p JOIN idoc da ON da.hid = p.hid_a JOIN idoc db ON db.hid = p.hid_b"""

    # ---- audio fingerprint: star output, value-level throughout ----
    if only is None or "dedup_audio_fingerprint" in only:
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
        stage("ahh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          m AS (SELECT doc_id, p, len, 0 AS sw FROM b
                UNION ALL SELECT doc_id + {DUP_OFFSET}, p, len, 1 FROM b),
          sv AS (SELECT doc_id, len, [{abyte} for i in range(0, len)] AS v FROM m),
          e AS (SELECT doc_id, len,
            [coalesce(list_sum([(v[i+1] - 128) * (v[i+1] - 128)
               for i in range(w*64, least((w+1)*64, len))]), 0)
             for w in range(0, (len + 63) // 64)] AS ew FROM sv),
          g AS (SELECT doc_id, len(ew) AS nw,
            [ew[(k * len(ew)) // 32 + 1] for k in range(0, 32)] AS gv,
            coalesce(list_sum([ew[(k * len(ew)) // 32 + 1] for k in range(0, 32)]), 0) AS tot
            FROM e)
          SELECT doc_id, {aband_defs} FROM g""")
        stage("avals",
              "SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM ahh "
              "GROUP BY 1, 2, 3, 4")
        stage("adoc",
              "SELECT h.doc_id, v.hid FROM ahh h JOIN avals v USING (band_0, band_1, band_2, band_3)")
        aarms = " UNION ALL ".join(
            f"SELECT hid, {ci} AS ci, {expr} AS cv FROM avals"
            for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
        stage("abands", aarms)
        stage("avcand",
              "SELECT DISTINCT a.hid AS hid_a, b.hid AS hid_b FROM abands a "
              "JOIN abands b ON a.ci = b.ci AND a.cv = b.cv AND a.hid < b.hid")
        aham = " + ".join(f"bit_count(xor(va.band_{b}, vb.band_{b}))" for b in range(4))
        queries["dedup_audio_fingerprint"] = f"""
          SELECT hid AS doc_a, doc_id AS doc_b, cast(0 AS BIGINT) AS ham_dist
          FROM adoc WHERE doc_id <> hid
          UNION ALL
          SELECT c.hid_a AS doc_a, c.hid_b AS doc_b, cast({aham} AS BIGINT) AS ham_dist
          FROM avcand c JOIN avals va ON va.hid = c.hid_a JOIN avals vb ON vb.hid = c.hid_b
          WHERE {aham} BETWEEN 1 AND {AUDIO_BAR}"""

    # ---- video phash: star output, frame/segment envelope bits ----
    if only is None or "dedup_video_phash" in only:
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
        stage("vhh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 10, 1) AS chunk FROM b),
          m AS (SELECT doc_id, p, len, chunk, 0 AS sw FROM c
                UNION ALL SELECT doc_id + {DUP_OFFSET}, p, len, chunk, 1 FROM c),
          sv AS (SELECT doc_id, len, chunk, [{vbyte} for i in range(0, len)] AS v FROM m),
          bits AS (SELECT doc_id,
            [CASE WHEN {vflen} > 0 AND {vb1} > {vb0}
                  AND {vsegsum} * {vflen} >= {vframesum} * ({vb1} - {vb0}) THEN 1 ELSE 0 END
             for t in range(0, 60)] AS bv FROM sv)
          SELECT doc_id, {vband_defs} FROM bits""")
        stage("vvals",
              "SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM vhh "
              "GROUP BY 1, 2, 3, 4")
        stage("vdoc",
              "SELECT h.doc_id, v.hid FROM vhh h JOIN vvals v USING (band_0, band_1, band_2, band_3)")
        varms = " UNION ALL ".join(
            f"SELECT hid, {ci} AS ci, {expr} AS cv FROM vvals"
            for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
        stage("vbands", varms)
        stage("vvcand",
              "SELECT DISTINCT a.hid AS hid_a, b.hid AS hid_b FROM vbands a "
              "JOIN vbands b ON a.ci = b.ci AND a.cv = b.cv AND a.hid < b.hid")
        vham = " + ".join(f"bit_count(xor(va.band_{b}, vb.band_{b}))" for b in range(4))
        queries["dedup_video_phash"] = f"""
          SELECT hid AS doc_a, doc_id AS doc_b, cast(0 AS BIGINT) AS ham_dist
          FROM vdoc WHERE doc_id <> hid
          UNION ALL
          SELECT c.hid_a AS doc_a, c.hid_b AS doc_b, cast({vham} AS BIGINT) AS ham_dist
          FROM vvcand c JOIN vvals va ON va.hid = c.hid_a JOIN vvals vb ON vb.hid = c.hid_b
          WHERE {vham} BETWEEN 1 AND {VIDEO_BAR}"""

    # ---- image canonical: value-graph components over the pair-scheme edges ----
    if only is None or "dedup_image_canonical" in only:
        idx = "((k // 8) * h // 8) * 8 + (k % 8)"
        byte = f"('0x' || substr(hex(p), 2*({idx}) + 1, 2))::BIGINT"
        pert = ("CASE WHEN pert = 1 AND NOT list_contains("
                "[(j * h) // 8 for j in range(0, 8)], (k // 8) * h // 8) THEN 1 ELSE 0 END")
        band_defs = ",\n".join(
            f"cast(list_sum([CASE WHEN sv[k+1]*64 >= tot THEN (1 << (k - {16*b})) ELSE 0 END "
            f"for k in range({16*b}, {16*(b+1)})]) AS BIGINT) AS band_{b}"
            for b in range(4))
        stage("ichh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 8, 1) AS h FROM b),
          m AS (SELECT doc_id, p, len, h, 0 AS pert FROM c
                UNION ALL SELECT doc_id + {DUP_OFFSET}, p, len, h, 1 FROM c),
          s AS (SELECT doc_id,
            [CASE WHEN {idx} < len THEN ({byte} + {pert}) % 256 ELSE 0 END
             for k in range(0, 64)] AS sv FROM m),
          hb AS (SELECT doc_id, list_sum(sv) AS tot, sv FROM s)
          SELECT doc_id, {band_defs} FROM hb""")
        stage("icvals",
              "SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM ichh "
              "GROUP BY 1, 2, 3, 4")
        stage("icdoc",
              "SELECT h.doc_id, v.hid FROM ichh h JOIN icvals v USING (band_0, band_1, band_2, band_3)")
        ic_arms = " UNION ALL ".join(
            f"SELECT hid, {ci} AS ci, {expr} AS cv FROM icvals"
            for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
        stage("icbands", ic_arms)
        ic_ham = " + ".join(f"bit_count(xor(va.band_{b}, vb.band_{b}))" for b in range(4))
        stage("icvp", f"""
          SELECT c2.hid_a, c2.hid_b FROM (
            SELECT DISTINCT a.hid AS hid_a, b.hid AS hid_b FROM icbands a
            JOIN icbands b ON a.ci = b.ci AND a.cv = b.cv AND a.hid < b.hid) c2
          JOIN icvals va ON va.hid = c2.hid_a JOIN icvals vb ON vb.hid = c2.hid_b
          WHERE {ic_ham} BETWEEN 1 AND 2""")
        stage("icedges", "SELECT hid_a AS s, hid_b AS d FROM icvp "
              "UNION ALL SELECT hid_b, hid_a FROM icvp")
        queries["dedup_image_canonical"] = """
          WITH RECURSIVE nodes AS (SELECT DISTINCT s AS id FROM icedges),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.d, reach.r FROM reach JOIN icedges e ON e.s = reach.id),
          labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
          SELECT coalesce(l.label, p.hid) AS canon, cast(count(*) AS BIGINT) AS member_cnt,
            max(p.doc_id) AS max_member
          FROM icdoc p LEFT JOIN labels l ON l.id = p.hid
          GROUP BY 1 ORDER BY canon"""

    # ---- image admission gate: 3-way population, existing-side index, decision ----
    if only is None or "dedup_image_admit_stream" in only:
        idx = "((k // 8) * h // 8) * 8 + (k % 8)"
        byte = f"('0x' || substr(hex(p), 2*({idx}) + 1, 2))::BIGINT"
        pert = ("CASE WHEN pert = 1 AND NOT list_contains("
                "[(j * h) // 8 for j in range(0, 8)], (k // 8) * h // 8) THEN 1 ELSE 0 END")
        band_defs = ",\n".join(
            f"cast(list_sum([CASE WHEN sv[k+1]*64 >= tot THEN (1 << (k - {16*b})) ELSE 0 END "
            f"for k in range({16*b}, {16*(b+1)})]) AS BIGINT) AS band_{b}"
            for b in range(4))
        stage("iahh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 8, 1) AS h FROM b),
          m AS (SELECT doc_id, p, len, h, 0 AS pert, 'ex' AS side FROM c WHERE doc_id % 5 <> 0
                UNION ALL SELECT doc_id, p, len, h, 0, 'in' FROM c WHERE doc_id % 5 = 0
                UNION ALL SELECT doc_id + {TWIN_OFFSET}, p, len, h, 1, 'in' FROM c
                  WHERE doc_id % 5 <> 0 AND doc_id % 9 = 2),
          s AS (SELECT doc_id, side,
            [CASE WHEN {idx} < len THEN ({byte} + {pert}) % 256 ELSE 0 END
             for k in range(0, 64)] AS sv FROM m),
          hb AS (SELECT doc_id, side, list_sum(sv) AS tot, sv FROM s)
          SELECT doc_id, side, {band_defs} FROM hb""")
        stage("iaexvals",
              "SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM iahh "
              "WHERE side = 'ex' GROUP BY 1, 2, 3, 4")
        stage("iainh",
              "SELECT doc_id, band_0, band_1, band_2, band_3 FROM iahh WHERE side = 'in'")
        ia_earms = " UNION ALL ".join(
            f"SELECT hid, {ci} AS ci, {expr} AS cv FROM iaexvals"
            for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
        ia_iarms = " UNION ALL ".join(
            f"SELECT doc_id, {ci} AS ci, {expr} AS cv FROM iainh"
            for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
        stage("iaebands", ia_earms)
        stage("iaibands", ia_iarms)
        stage("iacand",
              "SELECT DISTINCT i.doc_id, e.hid FROM iaibands i "
              "JOIN iaebands e ON i.ci = e.ci AND i.cv = e.cv")
        ia_ham = " + ".join(f"bit_count(xor(i2.band_{b}, ev.band_{b}))" for b in range(4))
        stage("iabest", f"""
          SELECT doc_id, hid, ham FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ham, hid) AS rn FROM (
              SELECT c2.doc_id, c2.hid, cast({ia_ham} AS BIGINT) AS ham
              FROM iacand c2 JOIN iainh i2 ON i2.doc_id = c2.doc_id
              JOIN iaexvals ev ON ev.hid = c2.hid
              WHERE {ia_ham} <= 2)) WHERE rn = 1""")
        queries["dedup_image_admit_stream"] = """
          SELECT i.doc_id,
            CASE WHEN iabest.hid IS NOT NULL THEN 'near_dup' ELSE 'admitted' END AS status,
            iabest.hid AS match_hid, iabest.ham AS ham_dist
          FROM iainh i LEFT JOIN iabest USING (doc_id)
          ORDER BY doc_id"""

    # ---- video partial-copy: frame moment signatures, rarity cap, shared count ----
    if only is None or "dedup_video_partial" in only:
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
        stage("vprare", "SELECT flen, s0, s1 FROM (SELECT flen, s0, s1, count(*) AS df "
              "FROM vpdsig GROUP BY 1, 2, 3) WHERE df <= 4")
        stage("vpdr", "SELECT d.* FROM vpdsig d JOIN vprare USING (flen, s0, s1)")
        queries["dedup_video_partial"] = """
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, cast(count(*) AS BIGINT) AS shared_frames
          FROM vpdr x JOIN vpdr y ON x.flen = y.flen AND x.s0 = y.s0 AND x.s1 = y.s1
            AND x.doc_id < y.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 3
          ORDER BY doc_a, doc_b"""

    npass = nfail = 0
    for name, sql in queries.items():
        if only and name not in only:
            continue
        qdir = os.path.join(outdir, name)
        if not os.path.isdir(qdir):
            print(f"SKIP {name}: no engine dump at {qdir}", flush=True)
            continue
        t0 = time.time()
        con.execute(f"CREATE OR REPLACE VIEW spark_out AS SELECT * FROM '{qdir}/*.parquet'")
        con.execute(f"CREATE OR REPLACE VIEW duck_out AS {sql}")
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
