#!/usr/bin/env python3
"""Staged DuckDB oracle for the r13 queries at derived-sf10 scale (the r12
minhash_oracle.py discipline): the driver's one-shot oracle SQL for these queries
cannot finish at 100x bench scale in one monolithic plan — the winnowing selection
window rides a ~1.1e9-row join (the in-memory compare.py run OOM-killed at 130 GB),
and the image-phash3 DOC-level candidate join is ~9.4e9 pre-distinct rows (56 combo
arms x the degenerate-cluster quadratic mass). This tool evaluates the SAME oracle
semantics with a sane execution plan:

* WINNOWING (text_winnow_fingerprint, dedup_winnow_pairs): each CTE of the oracle's
  winnowing SQL lands as a materialized table VERBATIM (same generated expressions as
  TextOps.winnowSelectSql), in a file-backed memory-capped DuckDB that spills. The
  selection is staged ONCE from the DOUBLED corpus (the pairs oracle's source); the
  plain-corpus selection of text_winnow_fingerprint is its restriction to original
  doc_ids — identical BY STRUCTURE, not by luck: winnowing is computed per document
  (every CTE partitions by doc_id) and the doubled source contains each original
  document unchanged, so restricting the doubled selection to doc_id < DUP_OFFSET is
  row-for-row the plain selection.

* IMAGE PHASH3 (dedup_image_phash3): the fingerprint CTE (`hh`) is staged verbatim;
  candidates are then formed BETWEEN DISTINCT FINGERPRINT VALUES with the verbatim
  key arms and popcount, and expanded to doc pairs at output. Identical output BY
  STRUCTURE: a document's combo keys are a function of its fingerprint value alone,
  so two docs share a key iff (a) their values are equal — emitted at distance 0 by
  the value self-expansion, exactly the doc-level candidates the DISTINCT would keep
  at d=0 — or (b) their distinct values share a key, which is the value-level join.
  The Hamming verify maths is the oracle's, evaluated once per value pair instead of
  once per (quadratic) doc pair.

Comparison runs in DuckDB itself (row counts + EXCEPT ALL both ways == 0, i.e.
multiset equality over all columns) — the pandas sort of an 85M-row frame is what
blew the memory before.

Usage: tools/r13_oracle_sf10.py <sfDir> <engineVerifyOut> [--db path] [--only q1,q2]
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
COPY_SHIFT = 10000000  # GenScale per-copy doc_id shift
MAX_DF = 4
MIN_SHARED = 2
PHASH3_BAR = 3


def gram_hash_sql():
    acc = "0::BIGINT"
    for t in range(K):
        acc = f"(({acc}) * {B} + ascii(substr(text, (i + {t + 1})::INT, 1))) % {M}"
    return acc


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    dbpath = "target/r13_oracle.duckdb"
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

    queries = {}

    # ---- winnowing, staged verbatim from the doubled corpus ----
    if only is None or only & {"text_winnow_fingerprint", "dedup_winnow_pairs"}:
        stage("wd",
              f"SELECT doc_id, text FROM documents UNION ALL "
              f"SELECT doc_id + {DUP_OFFSET}, text || ' graftdup' FROM documents")
        stage("wg", f"SELECT doc_id, text, greatest(length(text) - {K - 1}, 0) AS nh FROM wd")
        # the oracle's h CTE evaluated per-document first: unnesting positions BEFORE
        # hashing makes DuckDB carry the full text through a ~3e8-row intermediate
        # (measured: >60 GB of spill, disk-filling at sf10). Building the (i, hv)
        # struct list per doc row with the SAME gram-hash expression and unnesting the
        # structs is value-identical and keeps the intermediate at 3 integers/row.
        stage("wh",
              f"SELECT doc_id, u.i AS i, u.hv AS hv FROM ("
              f"SELECT doc_id, unnest([{{'i': i, 'hv': {gram_hash_sql()}}} "
              f"for i in range(0, nh)]) AS u FROM wg)")
        # the oracle's sel0 CTE (window-index x gram join + row_number) is the verbatim
        # form the sf0.01/sf0.1 gates run; at sf10 that join's row_number sort spills
        # past the disk, and DuckDB's window operator blows past the memory cap on the
        # frame-window alternative (both measured). This stage computes the SAME
        # selection as a spill-friendly HASH AGGREGATE: each gram row (i, hv) is a
        # member of windows j = i-W+1 .. i (clamped to valid windows — full windows
        # only, plus the single j=0 window of a < W-gram document, exactly the
        # oracle's w0 range), and per (doc, j) the minimum of the packed value
        # hv·2^20 + (2^20-1-i) is by integer ordering the (smallest hash, RIGHTMOST
        # position) — exactly what rn=1 under ORDER BY hv ASC, i DESC picks. The
        # packing is lossless: hv < 2^30 by the modulus and max gram count is checked
        # below to fit 20 bits.
        max_nh = con.execute("SELECT max(nh) FROM wg").fetchone()[0]
        if max_nh >= (1 << 20):
            raise SystemExit(f"gram count {max_nh} exceeds the 20-bit position packing")
        pk = 1 << 20
        offs = ", ".join(str(x) for x in range(W))
        stage("wnh", "SELECT doc_id, nh FROM wg WHERE nh > 0")
        stage("wsel", f"""
          SELECT DISTINCT doc_id,
            ({pk} - 1) - (minp % {pk}) AS i,
            minp // {pk} AS hv
          FROM (
            SELECT g.doc_id, g.i - t.v AS j,
              min(g.hv * {pk} + ({pk} - 1 - g.i)) AS minp
            FROM wh g
            CROSS JOIN unnest([{offs}]) AS t(v)
            JOIN wnh n ON n.doc_id = g.doc_id
            WHERE (n.nh >= {W} AND g.i - t.v BETWEEN 0 AND n.nh - {W})
               OR (n.nh < {W} AND g.i - t.v = 0)
            GROUP BY g.doc_id, g.i - t.v)""")
        stage("wfps", "SELECT DISTINCT doc_id, hv AS fp FROM wsel")
        stage("wdfreq", "SELECT fp, count(*) AS df FROM wfps GROUP BY fp")
        stage("wrare",
              f"SELECT f.doc_id, f.fp FROM wfps f JOIN wdfreq USING (fp) WHERE df <= {MAX_DF}")
        stage("wnper", "SELECT doc_id, count(*) AS n FROM wrare GROUP BY doc_id")
        stage("wshared",
              "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared "
              "FROM wrare a JOIN wrare b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2")
        # original (non-twin) docs: GenScale-derived dirs place copy c at c·10^7 + id
        # and the doubling adds twins at +10^6 WITHIN each copy range, so the plain
        # corpus is doc_id % 10^7 < 10^6 (graft.ext.Dedup.isOldDoc), which reduces to
        # doc_id < 10^6 on plain testdata dirs
        queries["text_winnow_fingerprint"] = (
            f"SELECT doc_id, i AS pos, hv AS fp FROM wsel "
            f"WHERE doc_id % {COPY_SHIFT} < {DUP_OFFSET} ORDER BY doc_id, pos")
        queries["dedup_winnow_pairs"] = f"""
          SELECT s.doc_a, s.doc_b, cast(s.n_shared AS BIGINT) AS n_shared,
            cast(na.n AS BIGINT) AS n_a, cast(nb.n AS BIGINT) AS n_b
          FROM wshared s JOIN wnper na ON na.doc_id = s.doc_a
            JOIN wnper nb ON nb.doc_id = s.doc_b
          WHERE 5 * s.n_shared >= 4 * least(na.n, nb.n) AND s.n_shared >= {MIN_SHARED}
          ORDER BY doc_a, doc_b"""

    # ---- image phash3: verbatim hh, value-level candidates ----
    if only is None or "dedup_image_phash3" in only:
        idx = "((k // 8) * h // 8) * 8 + (k % 8)"
        byte = f"('0x' || substr(hex(p), 2*({idx}) + 1, 2))::BIGINT"
        pert = ("CASE WHEN pert = 1 AND NOT list_contains("
                "[(j * h) // 8 for j in range(0, 8)], (k // 8) * h // 8) THEN 1 ELSE 0 END")
        band_defs = ",\n".join(
            f"cast(list_sum([CASE WHEN sv[k+1]*64 >= tot THEN (1 << (k - {16*b})) ELSE 0 END "
            f"for k in range({16*b}, {16*(b+1)})]) AS BIGINT) AS band_{b}"
            for b in range(4))
        stage("hh", f"""
          WITH b AS (SELECT doc_id, encode(text) AS p, octet_length(encode(text)) AS len FROM documents),
          c AS (SELECT doc_id, p, len, greatest(len // 8, 1) AS h FROM b),
          m AS (SELECT doc_id, p, len, h, 0 AS pert FROM c
                UNION ALL SELECT doc_id + {DUP_OFFSET}, p, len, h, 1 FROM c),
          s AS (SELECT doc_id,
            [CASE WHEN {idx} < len THEN ({byte} + {pert}) % 256 ELSE 0 END
             for k in range(0, 64)] AS sv FROM m),
          hb AS (SELECT doc_id, list_sum(sv) AS tot, sv FROM s)
          SELECT doc_id, {band_defs} FROM hb""")
        stage("pvals",
              "SELECT band_0, band_1, band_2, band_3, min(doc_id) AS hid FROM hh "
              "GROUP BY 1, 2, 3, 4")
        stage("pdoc",
              "SELECT h.doc_id, v.hid FROM hh h JOIN pvals v USING (band_0, band_1, band_2, band_3)")

        def blk(m_):
            return f"(band_{m_ // 2} // 256)" if m_ % 2 == 0 else f"(band_{m_ // 2} % 256)"
        combos = []
        import itertools
        for c in itertools.combinations(range(8), 5):
            expr = None
            for m_ in c:
                expr = blk(m_) if expr is None else f"(({expr}) * 256 + {blk(m_)})"
            combos.append(expr)
        arms = " UNION ALL ".join(
            f"SELECT hid, {ci} AS ci, {expr} AS cv FROM pvals"
            for ci, expr in enumerate(combos))
        stage("pbands", arms)
        stage("pvcand",
              "SELECT DISTINCT a.hid AS hid_a, b.hid AS hid_b FROM pbands a "
              "JOIN pbands b ON a.ci = b.ci AND a.cv = b.cv AND a.hid < b.hid")
        ham = " + ".join(f"bit_count(xor(va.band_{b}, vb.band_{b}))" for b in range(4))
        stage("pvpairs", f"""
          SELECT c.hid_a, c.hid_b, cast({ham} AS BIGINT) AS ham_dist
          FROM pvcand c JOIN pvals va ON va.hid = c.hid_a JOIN pvals vb ON vb.hid = c.hid_b
          WHERE {ham} BETWEEN 1 AND {PHASH3_BAR}""")
        queries["dedup_image_phash3"] = f"""
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0::BIGINT AS ham_dist
          FROM pdoc a JOIN pdoc b ON a.hid = b.hid AND a.doc_id < b.doc_id
          UNION ALL
          SELECT least(da.doc_id, db.doc_id) AS doc_a,
                 greatest(da.doc_id, db.doc_id) AS doc_b, p.ham_dist
          FROM pvpairs p JOIN pdoc da ON da.hid = p.hid_a JOIN pdoc db ON db.hid = p.hid_b"""

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
        # multiset equality: symmetric EXCEPT ALL must be empty
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
