#!/usr/bin/env python3
"""Staged DuckDB oracle for the r16 queries at derived-sf10 scale.

* dedup_image_admit_stream_incr / dedup_image_admit_persist: the r14 image admission
  hash staging (encode-grid aHash with the non-sampled-row twin perturbation) over the
  FOUR-way incremental population — existing corpus (side 'ex'), fresh arrivals split
  by parity into waves 1/2, +2M twins of existing (parity-preserving), +4000001 twins
  of wave-1 fresh arrivals (odd → wave 2) — then the two-wave fold tail: wave-1
  decisions against the existing-side value index, the admitted wave-1 docs folded in
  (keyed min over index ∪ delta, exactly the engine's mediaAdmitWave fold), wave-2
  decisions against the folded index. One staged SQL serves BOTH queries: the persist
  gate's parquet round-trip is decision-invariant by design.

Comparison is in-DuckDB multiset equality (EXCEPT ALL both ways), as in r13/r14/r15.

Usage: tools/r16_oracle_sf10.py <sfDir> <engineVerifyOut> [--db path] [--only q1,q2]
"""
import itertools
import os
import sys
import time

import duckdb

from duckmem import memory_limit

TWIN_OFFSET = 2000000
FRESH_TWIN_OFFSET = 4000001
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
    dbpath = "target/r16_oracle.duckdb"
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

    for t in ("documents", "embeddings"):
        p = f"{sfdir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")

    def stage(name, sql):
        t0 = time.time()
        con.execute(f"CREATE TABLE {name} AS {sql}")
        n = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"[stage] {name}: {n} rows in {time.time()-t0:.1f}s", flush=True)

    queries = {}

    incr_names = {"dedup_image_admit_stream_incr", "dedup_image_admit_persist"}
    if only is None or only & incr_names:
        idx = "((k // 8) * h // 8) * 8 + (k % 8)"
        byte = f"('0x' || substr(hex(p), 2*({idx}) + 1, 2))::BIGINT"
        pert = ("CASE WHEN pert = 1 AND NOT list_contains("
                "[(j * h) // 8 for j in range(0, 8)], (k // 8) * h // 8) THEN 1 ELSE 0 END")
        band_defs = ",\n".join(
            f"cast(list_sum([CASE WHEN sv[k+1]*64 >= tot THEN (1 << (k - {16*b})) ELSE 0 END "
            f"for k in range({16*b}, {16*(b+1)})]) AS BIGINT) AS band_{b}"
            for b in range(4))
        stage("imhh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 8, 1) AS h FROM b),
          m AS (SELECT doc_id, p, len, h, 0 AS pert, 'ex' AS side, 0 AS wave FROM c WHERE doc_id % 5 <> 0
                UNION ALL SELECT doc_id, p, len, h, 0, 'in',
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END FROM c WHERE doc_id % 5 = 0
                UNION ALL SELECT doc_id + {TWIN_OFFSET}, p, len, h, 1, 'in',
                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END FROM c
                  WHERE doc_id % 5 <> 0 AND doc_id % 9 = 2
                UNION ALL SELECT doc_id + {FRESH_TWIN_OFFSET}, p, len, h, 1, 'in', 2 FROM c
                  WHERE doc_id % 10 = 0),
          s AS (SELECT doc_id, side, wave,
            [CASE WHEN {idx} < len THEN ({byte} + {pert}) % 256 ELSE 0 END
             for k in range(0, 64)] AS sv FROM m),
          hb AS (SELECT doc_id, side, wave, list_sum(sv) AS tot, sv FROM s)
          SELECT doc_id, side, wave, {band_defs} FROM hb""")
        stage("imexvals0",
              "SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM imhh "
              "WHERE side = 'ex' GROUP BY 1, 2, 3, 4")
        ham = " + ".join(f"bit_count(xor(i2.band_{b}, ev.band_{b}))" for b in range(4))

        def wave_decision(w, exvals):
            stage(f"imi{w}",
                  f"SELECT doc_id, band_0, band_1, band_2, band_3 FROM imhh "
                  f"WHERE side = 'in' AND wave = {w}")
            earms = " UNION ALL ".join(
                f"SELECT hid, {ci} AS ci, {expr} AS cv FROM {exvals}"
                for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
            iarms = " UNION ALL ".join(
                f"SELECT doc_id, {ci} AS ci, {expr} AS cv FROM imi{w}"
                for ci, expr in enumerate(phash_combo_key_sql(4, 2)))
            stage(f"ime{w}bands", earms)
            stage(f"imi{w}bands", iarms)
            stage(f"imcand{w}",
                  f"SELECT DISTINCT i.doc_id, e.hid FROM imi{w}bands i "
                  f"JOIN ime{w}bands e ON i.ci = e.ci AND i.cv = e.cv")
            stage(f"imbest{w}", f"""
              SELECT doc_id, hid, ham FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ham, hid) AS rn FROM (
                  SELECT c2.doc_id, c2.hid, cast({ham} AS BIGINT) AS ham
                  FROM imcand{w} c2 JOIN imi{w} i2 ON i2.doc_id = c2.doc_id
                  JOIN {exvals} ev ON ev.hid = c2.hid
                  WHERE {ham} <= {ADMIT_HAMMING})) WHERE rn = 1""")
            stage(f"imdec{w}", f"""
              SELECT i.doc_id, cast({w} AS BIGINT) AS wave,
                CASE WHEN b.hid IS NOT NULL THEN 'near_dup' ELSE 'admitted' END AS status,
                b.hid AS match_hid, b.ham AS ham_dist
              FROM imi{w} i LEFT JOIN imbest{w} b USING (doc_id)""")

        wave_decision(1, "imexvals0")
        # the fold: admitted wave-1 fingerprints join the index at their own doc_id,
        # keyed min keeps the older hid on a value collision (== mediaAdmitWave)
        stage("imexvals1", """
          SELECT band_0, band_1, band_2, band_3, min(hid) AS hid FROM (
            SELECT band_0, band_1, band_2, band_3, hid FROM imexvals0
            UNION ALL
            SELECT i.band_0, i.band_1, i.band_2, i.band_3, i.doc_id AS hid
            FROM imi1 i JOIN imdec1 d ON d.doc_id = i.doc_id AND d.status = 'admitted')
          GROUP BY 1, 2, 3, 4""")
        wave_decision(2, "imexvals1")
        incr_sql = """
          SELECT doc_id, wave, status, match_hid, ham_dist
          FROM (SELECT * FROM imdec1 UNION ALL SELECT * FROM imdec2)"""
        queries["dedup_image_admit_stream_incr"] = incr_sql
        queries["dedup_image_admit_persist"] = incr_sql

    # simsearch_stream_ivfpq_cells: SUPERSEDED STAGING (r17, ADVICE r16 #2). The r16
    # staged chain replicated the engine's then-flat packed-argmax assignment with
    # HARDCODED engine constants (nprobe, PQ geometry, codebook/seed id ranges) that
    # could silently desynchronize from Similarity.scala. r17 (a) re-keyed the oracle's
    # assignment CTE to the TIERED two-level rule, which removes the corpus x cells
    # CROSS JOIN that forced staging (DuckDB runs the registered SQL at sf10 directly,
    # <60 s, no temp blowup), and (b) this tool therefore now reads the REGISTERED SQL
    # from the engine dump's oracle_sql.json -- the same drift-proof pattern the
    # simsearch_stream_append block below has always used. No constant lives here.
    ic = "simsearch_stream_ivfpq_cells"
    if only is None or ic in only:
        import json
        osql_path = os.path.join(outdir, "oracle_sql.json")
        if os.path.exists(osql_path):
            queries[ic] = json.load(open(osql_path))[ic]
        else:
            sys.exit(f"{ic}: no oracle_sql.json in {outdir} -- run graft.Verify first "
                     "(the staged chain was removed; the registered SQL is the oracle)")

    # simsearch_stream_append (r16, VERDICT r15 #6): the REGISTERED oracle is pure
    # chain SQL that DuckDB runs directly at sf10 (no staging needed) — read it from
    # the engine dump's oracle_sql.json so tool and registry cannot drift
    sa = "simsearch_stream_append"
    if only is None or sa in only:
        import json
        osql_path = os.path.join(outdir, "oracle_sql.json")
        if os.path.exists(osql_path):
            queries[sa] = json.load(open(osql_path))[sa]
        else:
            print(f"SKIP {sa}: no oracle_sql.json at {outdir}", flush=True)

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
        if diff:
            print(f"FAIL {name}: {diff} multiset-different rows", flush=True)
            nfail += 1
        else:
            print(f"PASS {name}: {ns} rows multiset-equal in {time.time()-t0:.1f}s", flush=True)
            npass += 1
    print(f"{npass} pass / {nfail} fail", flush=True)
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
