"""Contract sweep: run every ``queries()`` entry under the driver
protocol, optionally on a perturbed corpus, and write the adjudicated
artifact.

    python tools/make_manifest.py [SF_DIR]                  # QUERIES_MANIFEST.json
    python tools/make_manifest.py [SF_DIR] --perturb junk   # JUNKCHECK.json
    python tools/make_manifest.py [SF_DIR] --perturb schema # SCHEMADRIFT.json
    python tools/make_manifest.py [SF_DIR] --perturb tz     # TZCHECK.json
    python tools/make_manifest.py [SF_DIR] --only q1,q2 [--perturb P]

``--only`` without ``--out`` is a spot check: it prints one verdict per
query and writes nothing, so it can never overwrite a committed
artifact. ``--keep`` keeps the perturbed clone; non-zero exit on any
failure.

The sweep is the protocol the driver gate runs: a bare SparkSession (no
custom confs, ANSI at its default) and, per query, the row count, the
column names and the sorted type-aware values compared against the
query's DuckDB oracle. A green manifest is therefore a driver-gate
prediction, not a pytest echo. Every mode shares that session, the
oracle views, the fingerprint, the per-query loop and the artifact
writer; a perturbation plug-in adds only what it perturbs:

* ``junk`` (JUNKCHECK) — result MOVEMENT under junk rows. Each query
  runs on the clean corpus and on a clone with injected junk rows
  (NULL keys and timestamps, NaN and extreme doubles, empty and
  non-ASCII text, ragged and non-finite vectors, ...). Classes:

  - ``junk_neutral``: hash-identical on both corpora; the query's
    quarantine posture absorbs every junk row. The oracle is STILL
    replayed on the junk corpus: a neutral engine whose oracle crashes
    or diverges on junk means the SQL spec is only a clean-corpus spec,
    surfaced as ``NEUTRAL_ORACLE_DIVERGES`` (a failure), so every
    oracle stays a TOTAL spec.
  - ``participates_as_sql``: the result moves AND the query's own
    oracle replayed on the junk corpus reproduces the moved result
    exactly; movement is then by definition what SQL says the junk
    rows should do (e.g. count(*) rollups count junk rows).
  - ``expected_mover_documented``: moves, the oracle cannot adjudicate
    it, and ``EXPECTED_MOVERS`` carries a reviewed explanation.
  - ``UNEXPLAINED``: moves with no confirmation; fails the run.
  - ``ERROR``: the query crashed on either corpus (no query may die on
    a junk row).

  Full runs also execute the corrupted-BINARY media probe
  (``run_media_wave4``), written under ``media_wave4``.
* ``schema`` (SCHEMADRIFT) — movement under parquet LAYOUT drift; see
  ``build_variant`` for the four clones. Expected ``drift_neutral``.
* ``tz`` (TZCHECK) — movement under a hostile ambient clock; each zone
  runs in a fresh subprocess (see ``_tz_worker``). Expected
  ``tz_neutral``, and the UTC baseline must equal the committed
  manifest when both are at the same SF (``manifest_match``).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SF = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: perturbation -> the artifact a full run writes at the repo root
ARTIFACTS = {
    None: "QUERIES_MANIFEST.json",
    "junk": "JUNKCHECK.json",
    "schema": "SCHEMADRIFT.json",
    "tz": "TZCHECK.json",
}

#: Queries whose movement under junk is EXPECTED but cannot be
#: confirmed by replaying their oracle on the junk corpus. Each entry
#: is a reviewed, human-written explanation of WHY the movement is the
#: documented semantics rather than corruption. Keep this list short —
#: the oracle replay adjudicates everything SQL-expressible. Empty =
#: the whole contract is junk-neutral or oracle-confirmed.
EXPECTED_MOVERS: dict[str, str] = {}

#: (query, variant) movements under schema drift that are EXPECTED,
#: with a reviewed explanation. Empty = the contract is drift-neutral.
EXPECTED_SCHEMA_MOVERS: dict[tuple[str, str], str] = {}

#: (query, zone) movements that are EXPECTED, with a reviewed
#: explanation. Empty = the whole contract is tz-neutral.
EXPECTED_TZ_MOVERS: dict[tuple[str, str], str] = {}


# --------------------------------------------------------------------------
# Core: session, oracle views, fingerprint, run loop, artifact
# --------------------------------------------------------------------------


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)


def bare_session(**conf):
    """The driver's session: UI off, every other conf (ANSI included)
    at its default. ``conf`` is only for the tz worker's hostile zone."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{_cpus()}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def oracle_views(sf_dir: str):
    """DuckDB connection with one view per harness table. A table is a
    single parquet file in the harness and a DIRECTORY of part files
    when Spark wrote it (the perturbed clones) — glob the latter."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v) -> str:
    """Canonical text form of one result cell, type-aware: numerically
    equal values compare equal even when the two engines hand them back
    as bitwise-different doubles, Decimal vs float, or '0' vs '0.0'
    (driver ADVICE r5 — raw str() made float columns compare by repr).
    Floats canonicalize to 12 significant digits (cross-engine noise is
    ~1 ulp; 12 digits absorbs it while still catching real mismatches);
    integral floats print as integers."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{_cell(k)}:{_cell(v[k])}" for k in sorted(v, key=str)
        ) + "}"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return format(v, ".12g")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _norm(rows, cols):
    """Column-name-sorted, row-sorted canonical cell grid (the driver
    compare's shape, with the type-aware cell normalizer)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(_cell(r[i]) for i in idx) for r in rows)


def _result_md5(norm_rows, cols) -> str:
    """md5 of the normalized sorted rows + sorted column names — lets a
    consumer diff two manifests for result regressions without
    re-running Spark (VERDICT r5 #7)."""
    h = hashlib.md5()
    h.update(("\x1f".join(sorted(c.lower() for c in cols)) + "\x1e").encode())
    for row in norm_rows:
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


class Fingerprint(NamedTuple):
    n_rows: int
    cols: list
    md5: str
    norm: list


def fingerprint(sdf) -> Fingerprint:
    """Driver-protocol fingerprint of one collected result. ``md5``
    covers the sorted lowercase column names and the normalized rows,
    so two results are the same exactly when ``(n_rows, md5)`` is."""
    rows = [tuple(r) for r in sdf.collect()]
    cols = list(sdf.columns)
    norm = _norm(rows, cols)
    return Fingerprint(len(rows), cols, _result_md5(norm, cols), norm)


def _oracle(con, sql: str) -> tuple[list, list]:
    """(column names, normalized rows) of one DuckDB oracle run."""
    res = con.execute(sql)
    rows = res.fetchall()
    cols = [d[0] for d in res.description]
    return cols, _norm(rows, cols)


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc)[:300]}"


def run_loop(names, run_one, classes) -> tuple[dict, dict]:
    """Run ``run_one(name) -> (verdict, record, note)`` per query,
    printing one line each; returns (records, verdict counts)."""
    results: dict[str, dict] = {}
    counts = dict.fromkeys(classes, 0)
    for name in names:
        verdict, rec, note = run_one(name)
        results[name] = rec
        counts[verdict] += 1
        print(f"{name} {verdict}" + (f" {note}" if note else ""), flush=True)
    return results, counts


def _drift_verdict(rec: dict, name: str, moved: list, errs: list,
                   movers: dict, neutral: str) -> tuple[str, dict, str | None]:
    """``run_one`` result for a drift axis: ERROR on any crash,
    ``neutral`` when nothing moved, documented when every (query, axis)
    move carries a reviewed explanation in ``movers``, else UNEXPLAINED."""
    rec["moved_on"] = moved
    if errs:
        rec["detail"] = "; ".join(errs)
        rec["class"] = "ERROR"
    elif not moved:
        rec["class"] = neutral
    elif all((name, m) in movers for m in moved):
        rec["expectation"] = {m: movers[(name, m)] for m in moved}
        rec["class"] = "expected_mover_documented"
    else:
        rec["class"] = "UNEXPLAINED"
    note = f"(moved on {moved}) {rec.get('detail', '')}" if moved or errs else None
    return rec["class"], rec, note


def _artifact(sf_dir: str, protocol: str, queries: dict, **header) -> dict:
    return {
        "generated_utc": dt.datetime.now(dt.timezone.utc).isoformat(
            timespec="seconds"
        ),
        "sf_dir": sf_dir,
        "protocol": protocol,
        **header,
        "queries": queries,
    }


# --------------------------------------------------------------------------
# Manifest (no perturbation): every query vs its DuckDB oracle
# --------------------------------------------------------------------------


def sweep_manifest(spark, sf_dir: str, names: list):
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = oracle_views(sf_dir)

    def run_one(name):
        rec = {"oracle": name in oracles, "status": "no-oracle",
               "result_md5": None, "n_rows": None}
        if not rec["oracle"]:
            return "no-oracle", rec, None
        try:
            fp = fingerprint(qs[name](spark, sf_dir))
            dcols, dnorm = _oracle(con, oracles[name])
        except Exception as exc:  # noqa: BLE001 - the manifest records it
            rec["status"] = f"ERROR: {_err(exc)}"
            return "ERROR", rec, rec["status"]
        # ordered column names: the driver compares them positionally
        ok = [c.lower() for c in dcols] == [c.lower() for c in fp.cols]
        ok = ok and fp.norm == dnorm
        rec.update(status="verified" if ok else "MISMATCH",
                   result_md5=fp.md5, n_rows=fp.n_rows)
        note = None
        if not ok:
            diff = next((p for p in zip(fp.norm, dnorm) if p[0] != p[1]), None)
            note = (f"spark={fp.n_rows} rows {fp.cols}, duck={len(dnorm)} "
                    f"rows {dcols}; first diff {diff}")
        return rec["status"], rec, note

    results, counts = run_loop(
        names, run_one, ("verified", "no-oracle", "MISMATCH", "ERROR")
    )
    n_failed = counts["MISMATCH"] + counts["ERROR"]
    protocol = (
        f"bare SparkSession local[{_cpus()}]; per query: row count + column "
        "names + sorted values (type-aware numeric canonicalization, "
        "floats at 12 sig digits) vs DuckDB oracle; result_md5 = md5 "
        "of the normalized Spark rows + sorted columns"
    )
    art = _artifact(
        sf_dir, protocol, results,
        n_queries=len(results),
        n_with_oracle=sum(1 for e in results.values() if e["oracle"]),
        n_verified=counts["verified"],
        n_failed=n_failed,
    )
    return art, n_failed


# --------------------------------------------------------------------------
# junk plug-in: junk rows, the junk corpus, the oracle replay on it
# --------------------------------------------------------------------------

NAN = float("nan")

#: per-table junk rows (column order matches the harness parquet).
#: Shapes: NULL keys / timestamps, NaN doubles, empty + whitespace
#: strings, empty / ragged / non-finite vectors. Ids are huge so junk
#: never collides with real keys.
JUNK_ROWS: dict[str, list[tuple]] = {
    "region": [(None, None), (990001, "")],
    "nation": [(None, "", None), (990001, None, None)],
    "customer": [
        (None, None, None, NAN, None),
        (9900001, "", None, None, " "),
    ],
    "supplier": [(None, None, None, NAN), (9900001, "", None, None)],
    "part": [
        (None, None, None, None, None, NAN),
        (9900001, "", " ", "", None, None),
    ],
    "orders": [
        (None, None, None, NAN, None, None),
        (99000001, None, "", None, None, " "),
    ],
    "lineitem": [
        (None, None, None, None, NAN, NAN, NAN, NAN, None, None, None),
        (99000001, None, None, None, None, None, None, None, "", " ", None),
    ],
    "events": [
        (None, None, None, None, NAN, None),
        (99000001, None, None, "", None, ""),
    ],
    "documents": [
        (None, None, None, None, None),
        (99000001, "", "", "", 0),
        (99000002, "   \n\t  ", None, " ", 8),
    ],
    # embeddings junk is injected separately (vector shapes need the
    # array type): NULL vector, empty vector, ragged short vector,
    # NaN element, Inf element, zero vector.
}


#: round-10 second wave — shapes the NULL/NaN wave cannot represent:
#: NEGATIVE ids (trunc-% goes negative: element_at(arr, 0) raises under
#: ANSI; salted hashes must agree on sign), DUPLICATE primary keys
#: (latest-wins and grouping semantics), non-ASCII text (codepoint
#: folds must agree beyond ASCII), out-of-band timestamps (epoch
#: arithmetic, densification spans), malformed and int64-OVERFLOWING
#: JSON (ANSI CAST of '99999999999999999999' raises), and -0.0.
#: Timestamps are datetime objects (the column is a real TIMESTAMP).
def _junk_rows_v2() -> dict[str, list[tuple]]:
    t = dt.datetime.fromisoformat
    uni = "héllo wörld 🎉 ñaïve café héllo wörld"
    return {
        "region": [],
        "nation": [],
        "customer": [
            (-9800001, "Customer#negative", -2, -50.25, "AUTOMOBILE"),
            (9800010, "Customer#huge", 3, 1e308, "BUILDING"),  # wave 3
        ],
        "supplier": [
            (-9800001, "Supplier#negative", -2, -10.5),
            (9800010, "Supplier#huge", 3, -1e308),  # wave 3
        ],
        "part": [(-9800001, "negative part", "Brand#00", "TYPE X", -1, 1.99)],
        "orders": [
            (-98000001, -5, "O", 123.45, t("1996-03-15 00:00:00"), "3-MEDIUM"),
            # wave 3: extreme price (custkey matches no customer, so
            # join queries stay neutral; group-first queries must rail)
            (98000010, 98000010, "F", 1e308, t("1996-06-01 00:00:00"), "1-URGENT"),
        ],
        "lineitem": [
            (
                -98000001, -5, -3, -1, 2.0, 150.0, 0.05, 0.02,
                "N", "O", t("1995-06-10 00:00:00"),
            ),
            # wave 3: extreme price landing in REAL (returnflag,
            # linestatus) groups — the TPC-H Q1 decimal sums must rail
            (
                98000010, 98000010, 98000010, 1, 1.0, 1e308, 0.0, 0.0,
                "N", "O", t("1995-07-01 00:00:00"),
            ),
        ],
        "events": [
            # wave 3: finite-but-extreme magnitudes — CAST(1e308 AS
            # DECIMAL) raises under ANSI, floor(1e308*100) silently
            # saturates to Long.MAX (then int64 sums overflow-crash)
            (98000010, t("2024-01-12 12:00:00"), 98000010, "view", 1e308, '{"k": 5}'),
            (98000011, t("2024-01-13 13:00:00"), 98000011, "purchase", -1e20, '{"k": 6}'),
            (-98000001, t("2024-01-10 08:00:00"), -7, "view", 3.5, '{"k": 2}'),
            (98000002, t("2023-12-01 00:30:00"), 98000002, "click", 1.25, "{bad json"),
            (
                98000003, t("2024-02-15 09:00:00"), 98000003, "signup",
                2.5, '{"k": 99999999999999999999}',
            ),
            (
                98000004, t("2024-01-20 10:00:00"), 98000004, "view",
                -0.0, '{"k": "notanint"}',
            ),
            # duplicate primary key, two different payloads
            (98000005, t("2024-01-21 10:00:00"), 98000005, "view", 1.0, '{"k": 3}'),
            (98000005, t("2024-01-21 11:00:00"), 98000005, "purchase", 2.0, '{"k": 4}'),
        ],
        "documents": [
            (-98000001, "negative id doc with several plain words", "en", "web", 40),
            (98000002, uni, "xx", "web", len(uni)),
        ],
    }


#: round-11 fourth wave — ENCODING junk in documents.text (VERDICT r10
#: #2). The media fixture builders encode text CODEPOINTS into real
#: WAV/PPM/PNG payloads and the text operators fold codepoints into
#: hashes/shingles, so mojibake-grade text is the table-level entry
#: point for binary-adjacent junk: embedded NULs, BOM + bidi override
#: controls, Unicode NONCHARACTERS (U+FFFE/U+FFFF), the max astral
#: codepoint, C1 controls, and a lone replacement char. (True invalid
#: UTF-8 BYTES cannot exist in a Spark string — the decoder-level
#: corruption shapes live in the media_wave4 probe below.)
def _junk_rows_v4() -> dict[str, list[tuple]]:
    return {
        "documents": [
            (98000101, "\x00abc\x00def words here\x00", "en", "web", 12),
            (
                98000102,
                "\ufeff\u202evil bidi\u202c tail text",
                "xx",
                "web",
                9,
            ),
            (
                98000103,
                "\U0010ffff\ufffe\uffff mixed astral \U0001f600 doc",
                None,
                "crawl",
                11,
            ),
            (
                98000104,
                "\x85\x9c c1 controls � lone replacement",
                "en",
                "pdf",
                7,
            ),
        ],
    }


def build_junk_corpus(spark, src_dir: str, dst_dir: str) -> None:
    """Clone every harness table into ``dst_dir`` with the junk rows
    appended (deterministic content, one part file per table)."""
    from pyspark.sql import types as T

    if os.path.exists(dst_dir):
        shutil.rmtree(dst_dir)
    os.makedirs(dst_dir)
    for t in TABLES:
        df = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        # everything nullable so the junk rows union cleanly
        schema = T.StructType(
            [
                T.StructField(f.name, f.dataType, True)
                for f in df.schema.fields
            ]
        )
        if t == "embeddings":
            dim = len(df.select("embedding").first()[0])
            junk = [
                (99000001, None, None),
                (99000002, [], 0),
                (99000003, [1.0, 2.0], None),  # ragged
                (99000004, [NAN] * dim, 0),
                (99000005, [float("inf")] * dim, 0),
                (99000006, [0.0] * dim, 0),
                # wave 2: negative id; finite-huge elements whose
                # norm-of-squares overflows to Inf (quarantine must
                # catch the OVERFLOWING fold, not just Inf elements);
                # denormal elements
                (-98000001, [0.25] * dim, -1),
                (98000007, [1e200] * dim, 3),
                (98000008, [5e-324] * dim, 2),
            ]
        else:
            junk = (
                JUNK_ROWS[t]
                + _junk_rows_v2()[t]
                + _junk_rows_v4().get(t, [])
            )
        junk_df = spark.createDataFrame(junk, schema)
        out = df.unionByName(junk_df)
        # single file per table, same layout as the harness
        out.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{t}.parquet")
        )


def sweep_junk(spark, sf_dir: str, names: list, full: bool, work: str):
    import __spark_entry__ as entry

    build_junk_corpus(spark, sf_dir, work)
    print(f"junk corpus built at {work} from {sf_dir}", flush=True)
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = oracle_views(work)

    def run_one(name):
        rec: dict = {"oracle": name in oracles}
        try:
            clean = fingerprint(qs[name](spark, sf_dir))
            junk = fingerprint(qs[name](spark, work))
        except Exception as exc:  # noqa: BLE001 - a crash is the ERROR class
            rec.update({"class": "ERROR", "detail": _err(exc)})
            return "ERROR", rec, rec["detail"]
        rec.update(clean_rows=clean.n_rows, junk_rows=junk.n_rows,
                   clean_md5=clean.md5, junk_md5=junk.md5)
        # the oracle is ALWAYS replayed on the junk corpus when one
        # exists — the SQL string IS the documented expectation, and it
        # must be a TOTAL spec (same result as the engine on junk too)
        verdict = None
        if name in oracles:
            try:
                dcols, dnorm = _oracle(con, oracles[name])
                # sorted column names: the movement question is about
                # values, not about the projection order
                ok = sorted(c.lower() for c in dcols) == sorted(
                    c.lower() for c in junk.cols
                ) and dnorm == junk.norm
                verdict = "match" if ok else "mismatch"
            except Exception as exc:  # noqa: BLE001 - recorded, not fatal
                verdict = f"oracle_error: {str(exc)[:200]}"
        rec["oracle_on_junk"] = verdict
        if clean.md5 == junk.md5:
            cls = ("junk_neutral" if verdict in (None, "match")
                   else "NEUTRAL_ORACLE_DIVERGES")
        elif verdict == "match":
            cls = "participates_as_sql"
        elif name in EXPECTED_MOVERS:
            cls = "expected_mover_documented"
            rec["expectation"] = EXPECTED_MOVERS[name]
        else:
            cls = "UNEXPLAINED"
        rec["class"] = cls
        note = None
        if cls != "junk_neutral":
            note = (f"(clean {clean.n_rows} -> junk {junk.n_rows} rows, "
                    f"oracle_on_junk={verdict})")
        return cls, rec, note

    results, counts = run_loop(
        names, run_one,
        ("junk_neutral", "participates_as_sql", "expected_mover_documented",
         "NEUTRAL_ORACLE_DIVERGES", "UNEXPLAINED", "ERROR"),
    )
    header = {"n_run": len(results), "counts": counts}
    bad = (counts["UNEXPLAINED"] + counts["ERROR"]
           + counts["NEUTRAL_ORACLE_DIVERGES"])
    # the media probe is whole-corpus evidence: full runs only, so a
    # targeted --only replay stays targeted
    if full:
        wave4 = run_media_wave4(spark)
        print(
            f"media_wave4: {wave4['n_rows']} payload shapes, "
            f"{wave4['unexplained']} unexplained; movement "
            + ", ".join(
                f"{k}={'neutral' if v['junk_neutral'] else 'MOVED'}"
                for k, v in wave4["movement"].items()
            ),
            flush=True,
        )
        header["media_wave4"] = wave4
        bad += wave4["unexplained"]
    protocol = (
        "per query: driver-protocol fingerprint (rows + sorted columns "
        "+ type-aware sorted-value md5) on the clean corpus and on the "
        "junk clone (build_junk_corpus); movers adjudicated by replaying "
        "the query's DuckDB oracle on the junk corpus"
    )
    return _artifact(sf_dir, protocol, results, **header), bad


# Junk wave 4 (VERDICT r10 #2): corrupted BINARY payloads. The contract's
# media queries derive payloads deterministically from documents.text, so
# corrupt bytes cannot enter through the harness tables — the exposed
# surface is the DECODER-backed operator family itself. This probe feeds
# every real-decode operator a corpus of valid payloads for every format
# PLUS the corruption shapes, and adjudicates with two rules:
#   1. classification — every corrupt payload must land in a TYPED
#      quarantine class (media_quarantine_report), in the class the
#      shape's physics implies; valid payloads must class "ok" (absent);
#   2. movement — every downstream operator's result on valid+corrupt
#      must be fingerprint-IDENTICAL to its result on valid-only
#      (junk-neutral: corrupt bytes contribute NOTHING, fabricate
#      nothing, crash nothing).

#: per-(format, shape) allowed quarantine classes. "malformed" vs
#: "cap_exceeded" for the giant-claim shapes follows each parser's
#: physics: PNG/JPEG read dims from a FIXED-OFFSET header and hit the
#: allocation cap check (cap_exceeded, by POLICY); PPM/Y4M/WAV/MP4
#: validate declared size against actual bytes first, and a tiny body
#: claiming gigabytes IS a malformed container (no allocation happens
#: either way — pinned by tests/test_multimodal.py's memory-bomb test).
#: jpeg_prog / jpeg12 joined in round 11 when the decoder grew
#: progressive (SOF2) and 12-bit extended-sequential (SOF1) support —
#: the new scan machinery sits under the SAME adjudicated artifact.
#: wave 4 (r10) formats + the wave-5 (r12) widened-decode variants —
#: each widened shape (24-bit extensible WAV, 16-bit P5 graymap,
#: Adam7 palette PNG, C420 Y4M) gets the SAME full corruption-shape
#: battery as the original formats, so the format widenings are
#: adjudicated in the junk artifact, not just pinned in pytest
_W4_FORMATS = (
    "wav", "ppm", "y4m", "png", "jpeg", "jpeg_prog", "jpeg12", "mp4",
    "wav24", "pgm16", "png_i", "y4m420",
)

MEDIA_WAVE4_EXPECT: dict[tuple[str, str], set] = {
    **{(f, "valid"): {"ok"} for f in _W4_FORMATS},
    **{(f, "null_payload"): {"null_payload"} for f in _W4_FORMATS},
    **{(f, "zero_length"): {"unknown_format"} for f in _W4_FORMATS},
    **{(f, "truncated_magic"): {"unknown_format"} for f in _W4_FORMATS},
    **{(f, "byte_soup"): {"unknown_format"} for f in _W4_FORMATS},
    # valid magic, body cut to 60% — strict-length/CRC checks must fire
    # (the WAV parser FABRICATED duration/checksum from truncated data
    # until this wave: silent slice truncation in the chunk walk)
    **{(f, "truncated_body"): {"malformed"} for f in _W4_FORMATS},
    # structural corruption mid-body (bit flip / size-field lie)
    **{(f, "body_corrupt"): {"malformed"} for f in _W4_FORMATS},
    # header claims multi-GB content over a tiny body. The class split
    # is structural: strict-length formats (WAV/PNM/Y4M/MP4) fail the
    # payload-slice check -> malformed; PNG/JPEG validate dimensions
    # BEFORE touching compressed data -> cap_exceeded
    ("wav", "giant_claim"): {"malformed"},
    ("ppm", "giant_claim"): {"malformed"},
    ("y4m", "giant_claim"): {"malformed"},
    ("mp4", "giant_claim"): {"malformed"},
    ("png", "giant_claim"): {"cap_exceeded"},
    ("jpeg", "giant_claim"): {"cap_exceeded"},
    ("jpeg_prog", "giant_claim"): {"cap_exceeded"},
    ("jpeg12", "giant_claim"): {"cap_exceeded"},
    ("wav24", "giant_claim"): {"malformed"},
    ("pgm16", "giant_claim"): {"malformed"},
    ("png_i", "giant_claim"): {"cap_exceeded"},
    ("y4m420", "giant_claim"): {"malformed"},
    # ADVICE r11 (medium): a stream of tiny EOB-run scans — each scan
    # walks the full block grid for ~12 payload bytes; the scan-count
    # rail must quarantine it as a typed malformed, not stall the
    # executor (decode used to SUCCEED, so no handler ever fired)
    ("jpeg_prog", "scan_bomb"): {"malformed"},
}


def media_wave4_corpus() -> list[tuple[int, str, str, bytes | None]]:
    """(media_id, format, shape, payload) rows: one valid payload per
    format plus every corruption shape, all deterministic."""
    import struct

    from yandex_tracker_exporter_spark import multimodal as mm

    valid = {
        "wav": mm.encode_wav(list(range(-100, 100)), 8000, 1),
        "ppm": mm.encode_ppm(4, 4, bytes(range(48))),
        "y4m": mm.encode_y4m(4, 4, [bytes(range(48))] * 2),
        "png": mm.encode_png(4, 5, bytes(range(60))),
        "jpeg": mm.encode_jpeg_gray(8, 8, bytes(range(64))),
        "jpeg_prog": mm.encode_jpeg_gray_progressive(
            16, 16, bytes((i * 7) % 256 for i in range(256))
        ),
        "jpeg12": mm.encode_jpeg_gray12(8, 8, [(i * 64) % 4096 for i in range(64)]),
        "mp4": mm.encode_mp4_meta(640, 480, 1500),
        # wave 5 (r12): the widened-decode shapes as first-class formats
        "wav24": mm.encode_wav_ex(
            [((i * 9001) % (1 << 24)) - (1 << 23) for i in range(120)],
            8000, 1, bits=24, extensible=True,
        ),
        "pgm16": b"P5\n5 4\n65535\n" + struct.pack(
            ">20H", *[(i * 3001) % 65536 for i in range(20)]
        ),
        "png_i": mm.encode_png_ex(
            9, 7, [(i * 5) % 4 for i in range(63)], color_type=3,
            bit_depth=2, interlace=1,
            palette=[(10, 20, 30), (40, 50, 60), (70, 80, 90), (1, 2, 3)],
        ),
        "y4m420": mm.encode_y4m(
            6, 4, [bytes((i * 13 + f) % 256 for i in range(36))
                   for f in range(2)],
            colorspace="C420",
        ),
    }
    magic_keep = {"wav": 3, "ppm": 1, "y4m": 4, "png": 5, "jpeg": 1,
                  "jpeg_prog": 1, "jpeg12": 1, "mp4": 6,
                  "wav24": 3, "pgm16": 1, "png_i": 5, "y4m420": 4}

    def body_corrupt(fmt: str, p: bytes) -> bytes:
        b = bytearray(p)
        if fmt in ("wav", "wav24"):  # data chunk size lies past payload
            i = p.find(b"data")
            b[i + 4:i + 8] = struct.pack("<I", 0x7FFFFFF0)
        elif fmt == "pgm16":  # one raster byte chopped (odd 16-bit cut)
            b = b[:-1]
        elif fmt == "png_i":  # flip a byte inside the IDAT body: CRC
            i = p.find(b"IDAT")
            b[i + 6] ^= 0xFF
        elif fmt == "y4m420":  # final frame body cut
            b = b[:-5]
        elif fmt == "ppm":  # one raster byte chopped: strict-length breach
            b = b[:-1]
        elif fmt == "y4m":  # final frame body cut: checksummed length breach
            b = b[:-5]
        elif fmt == "png":  # IDAT bit flip: CRC mismatch
            b[45] ^= 0xFF
        elif fmt in ("jpeg", "jpeg_prog"):  # entropy bit flip
            b[len(b) // 2] ^= 0xFF
        elif fmt == "jpeg12":
            # the payload midpoint falls inside the 16-bit DQT, and a
            # corrupted quant table DECODES (JPEG carries no integrity
            # check — that is honest lossy corruption, not fabrication);
            # corrupt the SOS band instead: Se=7 on a sequential scan
            # is structurally illegal and must quarantine
            i = p.find(b"\xff\xda")
            (sos_len,) = struct.unpack(">H", p[i + 2:i + 4])
            b[i + 2 + sos_len - 2] = 7  # Se byte of the SOS header
        elif fmt == "mp4":  # ftyp box size lie
            b[0:4] = struct.pack(">I", 2**31)
        return bytes(b)

    def giant_claim(fmt: str, p: bytes) -> bytes:
        if fmt in ("wav", "wav24"):
            return body_corrupt(fmt, p)  # multi-GB data chunk claim
        if fmt == "ppm":
            return b"P6\n60000 60000\n255\n" + b"\x00" * 10
        if fmt == "pgm16":
            return b"P5\n60000 60000\n65535\n" + b"\x00" * 10
        if fmt == "png_i":
            # IHDR claims 50000x50000 palette Adam7 over a 2-byte IDAT
            ihdr = struct.pack(">IIBBBBB", 50000, 50000, 2, 3, 0, 0, 1)
            return (
                mm.PNG_SIG
                + mm._png_chunk(b"IHDR", ihdr)
                + mm._png_chunk(b"PLTE", bytes(12))
                + mm._png_chunk(b"IDAT", b"xx")
                + mm._png_chunk(b"IEND", b"")
            )
        if fmt in ("y4m", "y4m420"):
            return b"YUV4MPEG2 W60000 H60000 F25:1\nFRAME\n" + b"\x00" * 10
        if fmt == "png":  # IHDR claims 50000x50000 over a 2-byte IDAT
            ihdr = struct.pack(">IIBBBBB", 50000, 50000, 8, 2, 0, 0, 0)
            return (
                mm.PNG_SIG
                + mm._png_chunk(b"IHDR", ihdr)
                + mm._png_chunk(b"IDAT", b"xx")
                + mm._png_chunk(b"IEND", b"")
            )
        if fmt in ("jpeg", "jpeg_prog", "jpeg12"):  # SOF dims -> 60000^2
            b = bytearray(p)
            sof = {"jpeg": b"\xff\xc0", "jpeg_prog": b"\xff\xc2",
                   "jpeg12": b"\xff\xc1"}[fmt]
            i = p.find(sof)
            b[i + 5:i + 9] = struct.pack(">HH", 60000, 60000)
            return bytes(b)
        # mp4: 64-bit largesize box claiming more than the file holds
        return struct.pack(">I", 1) + b"ftyp" + b"\x00" * 4

    soup = bytes((i * 37 + 11) % 256 for i in range(64))
    rows: list[tuple[int, str, str, bytes | None]] = []
    mid = 0
    for fmt, p in sorted(valid.items()):
        shapes = {
            "valid": p,
            "null_payload": None,
            "zero_length": b"",
            "truncated_magic": p[: magic_keep[fmt]],
            "byte_soup": soup,
            "truncated_body": p[: int(len(p) * 0.6)],
            "body_corrupt": body_corrupt(fmt, p),
            "giant_claim": giant_claim(fmt, p),
        }
        if fmt == "jpeg_prog":
            # 100 scans: over the 1-component cap of 14 + 64; the
            # builder is shared with the pytest pin (r12 review —
            # a second hand-rolled copy would drift silently)
            shapes["scan_bomb"] = mm.encode_jpeg_eob_scan_stream(100)
        for shape, payload in sorted(shapes.items()):
            rows.append((mid, fmt, shape, payload))
            mid += 1
    return rows


def run_media_wave4(spark) -> dict:
    """Execute the wave-4 probe; returns the artifact section."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from yandex_tracker_exporter_spark import multimodal as mm

    rows = media_wave4_corpus()
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("shape", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    kind_of = {"wav": "audio", "ppm": "image", "y4m": "video",
               "png": "image", "jpeg": "image", "jpeg_prog": "image",
               "jpeg12": "image", "mp4": "video", "wav24": "audio",
               "pgm16": "image", "png_i": "image", "y4m420": "video"}
    df = spark.createDataFrame(
        [(mid, kind_of[fmt], f"{fmt}:{shape}", p) for mid, fmt, shape, p in rows],
        schema,
    ).cache()
    meta = {mid: (fmt, shape) for mid, fmt, shape, _ in rows}

    # 1. classification: every row lands in its expected class
    got = {
        r["media_id"]: r["reason_class"]
        for r in mm.media_quarantine_report(df).collect()
    }
    section: dict = {"rows": {}, "unexplained": 0, "n_rows": len(rows)}
    for mid, (fmt, shape) in sorted(meta.items()):
        actual = got.get(mid, "ok")
        allowed = MEDIA_WAVE4_EXPECT[(fmt, shape)]
        ok = actual in allowed
        section["rows"][f"{fmt}:{shape}"] = {
            "class": actual,
            "expected": sorted(allowed),
            "ok": ok,
        }
        if not ok:
            section["unexplained"] += 1

    # 2. movement: the FEATURE operators skip quarantined payloads, so
    # valid-only vs valid+corrupt must fingerprint equal (junk-neutral)
    valid_df = df.where(F.col("shape").endswith(":valid"))
    valid_ids = {mid for mid, (_, shape) in meta.items() if shape == "valid"}
    ops = {
        "audio_frame_energy": mm.audio_frame_energy,
        "image_channel_histogram": mm.image_channel_histogram,
        "resize_images": mm.resize_images,
    }
    section["movement"] = {}
    for op_name, op in sorted(ops.items()):
        full = fingerprint(op(df))
        clean = fingerprint(op(valid_df))
        neutral = full.md5 == clean.md5 and full.n_rows == clean.n_rows
        section["movement"][op_name] = {
            "junk_neutral": neutral,
            "n_rows_valid_only": clean.n_rows,
            "n_rows_with_junk": full.n_rows,
        }
        if not neutral:
            section["unexplained"] += 1

    # decode_media's CONTRACT is one row per input (header fields or
    # nulls), so junk rows legitimately appear — the adjudication is
    # that they appear ONLY as all-null-field rows (nothing fabricated)
    # and the valid rows are byte-identical to a valid-only run
    decoded = mm.decode_media(df).cache()
    valid_part = fingerprint(
        decoded.where(F.col("media_id").isin(sorted(valid_ids)))
    )
    clean_run = fingerprint(mm.decode_media(valid_df))
    junk_rows = decoded.where(
        ~F.col("media_id").isin(sorted(valid_ids))
    ).collect()
    fabricated = [
        r["media_id"]
        for r in junk_rows
        if any(r[c] is not None for c in decoded.columns if c != "media_id")
    ]
    dm_ok = (valid_part.md5 == clean_run.md5
             and valid_part.n_rows == clean_run.n_rows and not fabricated)
    section["movement"]["decode_media"] = {
        "junk_neutral": dm_ok,
        "rule": "junk rows emit all-null fields; valid rows byte-identical",
        "n_rows_valid_only": clean_run.n_rows,
        "n_rows_with_junk": valid_part.n_rows + len(junk_rows),
        "fabricated_ids": fabricated,
    }
    if not dm_ok:
        section["unexplained"] += 1
    decoded.unpersist()
    df.unpersist()
    return section


# --------------------------------------------------------------------------
# schema plug-in: layout-drifted clones of the corpus
# --------------------------------------------------------------------------

#: A lake's files are written by many producers over years, so the
#: physical layout drifts while the logical contract stands. An engine
#: whose queries secretly depend on column POSITION (or on "the schema
#: is exactly these N columns") silently corrupts or crashes on such a
#: lake. Four clones, each holding the SAME LOGICAL ROWS:
#:
#: * ``reorder`` — every table rewritten with its columns REVERSED.
#: * ``extra`` — every table with an appended ``_ingest_ts`` long
#:   column (the classic producer-added audit column).
#: * ``split`` — every table as TWO part files in one directory: file A
#:   in the original column order, file B reordered AND carrying the
#:   extra column — per-file footer disagreement, the shape
#:   multi-producer directories actually have. Rows split
#:   deterministically (crc32 of the first column, even/odd).
#: * ``debris`` — every table as a directory carrying committer litter:
#:   ``_SUCCESS``, ``_started_*`` / ``_committed_*`` markers, ``.crc``
#:   sidecars, ``.DS_Store``, and — the dangerous one — a
#:   ``_temporary/`` subtree holding a DUPLICATE part file from an
#:   aborted task attempt. Spark's hidden-file filter must drop all of
#:   it; an engine that listed recursively would DOUBLE every row.
#:
#: Out of scope: physical TYPE drift (an int32 file inside a bigint
#: table). Spark's vectorized parquet reader refuses that read
#: regardless of engine code — the remedy is an explicit read schema at
#: the lake boundary, so probing it would measure Spark, not this repo.
VARIANTS = ("reorder", "extra", "split", "debris")


def _gather_parts(out_dir: str, *dfs) -> str:
    """Write each frame as one part file and gather them into
    ``out_dir`` as part-00000.parquet, part-00001.parquet, ..., each
    with the GENUINE checksum sidecar Hadoop's local FS wrote for it (a
    real committer leaves a VALID .crc — a garbage one makes Hadoop
    fail the read as corruption, which is correct behavior and not what
    this probe measures). Returns the last part's path."""
    os.makedirs(out_dir)
    n, part = 0, None
    for i, df in enumerate(dfs):
        tmp = f"{out_dir}_{i}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in sorted(os.listdir(tmp)):
            if f.endswith(".parquet"):
                part = os.path.join(out_dir, f"part-{n:05d}.parquet")
                os.rename(os.path.join(tmp, f), part)
                crc = os.path.join(tmp, f".{f}.crc")
                if os.path.exists(crc):
                    os.rename(crc, os.path.join(out_dir, f".part-{n:05d}.parquet.crc"))
                n += 1
        shutil.rmtree(tmp)
    return part


def build_variant(spark, src: str, dst: str, mode: str) -> None:
    """Write one drifted clone of every table under ``dst``."""
    from pyspark.sql import functions as F

    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    for t in TABLES:
        df = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        out_dir = os.path.join(dst, f"{t}.parquet")
        reordered = df.select(*reversed(df.columns))
        ingest_ts = F.lit(1_700_000_000).cast("long")
        if mode == "reorder":
            reordered.coalesce(1).write.mode("overwrite").parquet(out_dir)
        elif mode == "extra":
            df.withColumn("_ingest_ts", ingest_ts).coalesce(1).write.mode(
                "overwrite"
            ).parquet(out_dir)
        elif mode == "split":
            # deterministic even/odd split on the first column's text;
            # file B reorders AND appends — footers disagree in one dir
            odd = F.coalesce(F.crc32(F.col(df.columns[0]).cast("string")) % 2, F.lit(0))
            _gather_parts(
                out_dir,
                df.where(odd == 0),
                reordered.where(odd == 1).withColumn("_ingest_ts", ingest_ts),
            )
        elif mode == "debris":
            part = _gather_parts(out_dir, df)
            open(os.path.join(out_dir, "_SUCCESS"), "w").close()
            open(os.path.join(out_dir, "_started_17123"), "w").close()
            with open(os.path.join(out_dir, "_committed_17123"), "w") as fh:
                fh.write('{"added":["part-00000.parquet"]}')
            with open(os.path.join(out_dir, ".DS_Store"), "wb") as fh:
                fh.write(b"\x00Bud1")
            # aborted-attempt duplicate: MUST stay invisible, else every
            # row doubles and the fingerprint moves loudly
            attempt = os.path.join(out_dir, "_temporary", "0", "attempt_1")
            os.makedirs(attempt)
            shutil.copy(part, os.path.join(attempt, "part-00000.parquet"))
        else:
            raise ValueError(mode)


def sweep_schema(spark, sf_dir: str, names: list, work: str):
    import __spark_entry__ as entry

    for mode in VARIANTS:
        build_variant(spark, sf_dir, os.path.join(work, mode), mode)
        print(f"built {mode} clone", flush=True)
    qs = entry.queries()

    def run_one(name):
        rec: dict = {}
        try:
            clean = fingerprint(qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - a crash is the ERROR class
            return _drift_verdict(rec, name, [], [f"clean: {_err(exc)}"],
                                  EXPECTED_SCHEMA_MOVERS, "drift_neutral")
        moved, errs = [], []
        for mode in VARIANTS:
            try:
                got = fingerprint(qs[name](spark, os.path.join(work, mode)))
            except Exception as exc:  # noqa: BLE001
                errs.append(f"{mode}: {_err(exc)}")
                continue
            if (got.n_rows, got.md5) != (clean.n_rows, clean.md5):
                moved.append(mode)
        return _drift_verdict(rec, name, moved, errs, EXPECTED_SCHEMA_MOVERS,
                              "drift_neutral")

    results, counts = run_loop(
        names, run_one,
        ("drift_neutral", "expected_mover_documented", "UNEXPLAINED", "ERROR"),
    )
    protocol = (
        "per query: driver-protocol fingerprint (rows + sorted columns "
        "+ type-aware sorted-value md5) on the clean corpus and on "
        "four schema-drifted clones (columns reversed; _ingest_ts "
        "column appended; two-part-file tables with disagreeing "
        "footers; committer debris incl. a _temporary duplicate part); "
        "any movement must be documented"
    )
    art = _artifact(sf_dir, protocol, results, variants=list(VARIANTS),
                    n_run=len(results), counts=counts)
    return art, counts["UNEXPLAINED"] + counts["ERROR"]


# --------------------------------------------------------------------------
# tz plug-in: the contract under a hostile ambient clock
# --------------------------------------------------------------------------

#: A real deployment does not run on a UTC box: the driver, executor
#: JVMs and Python workers can sit in any zone. The repo's design claim
#: is that timestamps are UTC-normalized at the EDGES (``load_table``
#: pins ``spark.sql.session.timeZone=UTC`` on every call; oracle-checked
#: queries emit epoch seconds), so the whole contract must be invariant
#: to the ambient zone. DST + negative offset; +05:45 (no DST); +12:45
#: with DST — between them they break every "offset is a whole hour and
#: never changes" assumption an engine could hide.
ZONES = ("America/New_York", "Asia/Kathmandu", "Pacific/Chatham")


def _tz_worker(zone: str, sf_dir: str, names: list, out: str) -> None:
    """Subprocess body: run ``names`` under ``zone`` and write
    ``{name: {"md5", "n_rows"} | {"error"}}`` to ``out``. ``TZ`` (set
    by the parent, Python's libc clock) and ``-Duser.timezone`` (the
    JVM default clock) only bind at process/JVM start — hence one fresh
    process per zone. The session zone is the adversarial bit:
    ``load_table`` must win that conf fight at every read."""
    import time

    time.tzset()  # honor the TZ env var the parent set
    spark = bare_session(**{
        "spark.driver.extraJavaOptions": f"-Duser.timezone={zone}",
        "spark.sql.session.timeZone": zone,
    })
    if spark.conf.get("spark.sql.session.timeZone") != zone:
        raise RuntimeError("session zone did not take; the probe is vacuous")

    import __spark_entry__ as entry

    qs = entry.queries()

    def run_one(name):
        # re-assert the hostile session zone before EVERY query:
        # load_table pins UTC as part of its edge contract, so each
        # query must re-win the fight from a freshly hostile session
        spark.conf.set("spark.sql.session.timeZone", zone)
        try:
            fp = fingerprint(qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - judged by the parent
            return "ERROR", {"error": _err(exc)}, f"[{zone}]"
        return "ok", {"md5": fp.md5, "n_rows": fp.n_rows}, f"[{zone}]"

    results, _ = run_loop(names, run_one, ("ok", "ERROR"))
    with open(out, "w") as fh:
        json.dump(results, fh)
    spark.stop()


def sweep_tz(sf_dir: str, names: list, full: bool):
    runs: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(prefix="tzcheck_") as tmp:
        for zone in ("UTC",) + ZONES:
            out = os.path.join(tmp, zone.replace("/", "_") + ".json")
            print(f"running contract under {zone}…", flush=True)
            cmd = [sys.executable, os.path.abspath(__file__), sf_dir,
                   "--tz-worker", zone, out]
            if not full:
                cmd += ["--only", ",".join(names)]
            subprocess.run(cmd, env={**os.environ, "TZ": zone}, cwd=REPO,
                           check=True)
            with open(out) as fh:
                runs[zone] = json.load(fh)

    manifest_md5: dict[str, str] = {}
    mpath = os.path.join(REPO, ARTIFACTS[None])
    if os.path.exists(mpath):
        with open(mpath) as fh:
            m = json.load(fh)
        msf = m.get("sf_dir")
        if msf and os.path.abspath(msf) == os.path.abspath(sf_dir):
            manifest_md5 = {
                k: v["result_md5"]
                for k, v in m.get("queries", {}).items()
                if v.get("result_md5")
            }

    base = runs["UTC"]

    def run_one(name):
        rec: dict = {}
        if "error" in base[name]:
            return _drift_verdict(rec, name, [], [f"UTC: {base[name]['error']}"],
                                  EXPECTED_TZ_MOVERS, "tz_neutral")
        moved, errs = [], []
        for zone in ZONES:
            got = runs[zone].get(name, {})
            if "error" in got:
                errs.append(f"{zone}: {got['error']}")
            elif got.get("md5") != base[name]["md5"]:
                moved.append(zone)
        if name in manifest_md5:
            if base[name]["md5"] == manifest_md5[name]:
                rec["manifest_match"] = True
            else:
                errs.append("UTC run diverges from committed manifest")
        return _drift_verdict(rec, name, moved, errs, EXPECTED_TZ_MOVERS,
                              "tz_neutral")

    results, counts = run_loop(
        names, run_one,
        ("tz_neutral", "expected_mover_documented", "UNEXPLAINED", "ERROR"),
    )
    counts["manifest_match"] = sum(
        1 for r in results.values() if r.get("manifest_match")
    )
    protocol = (
        "per zone, a fresh subprocess (own JVM) with TZ env, "
        "-Duser.timezone, and spark.sql.session.timeZone all set to "
        "the zone (re-asserted before every query) runs every "
        "queries() entry under the driver-protocol fingerprint; all "
        "fingerprints must equal the UTC worker's, and the UTC "
        "worker's must equal the committed manifest at its SF"
    )
    art = _artifact(sf_dir, protocol, results, zones=list(ZONES),
                    manifest_cross_checked=bool(manifest_md5),
                    n_run=len(results), counts=counts)
    return art, counts["UNEXPLAINED"] + counts["ERROR"]


# --------------------------------------------------------------------------
# CLI
# --------------------------------------------------------------------------


def _parse_args(argv: list[str]):
    """Both ``--only q1,q2`` and ``--only=q1,q2`` parse (VERDICT r9: a
    hand parser once crashed on the space form); ``--out`` defaults to
    the mode's committed artifact for a full run and to nothing for an
    ``--only`` spot check."""
    import argparse

    p = argparse.ArgumentParser(
        prog="make_manifest", description=__doc__.splitlines()[0]
    )
    p.add_argument("sf_dir", nargs="?", default=DEFAULT_SF)
    p.add_argument("--perturb", choices=("junk", "schema", "tz"), default=None)
    p.add_argument(
        "--only",
        default=None,
        help="comma-separated query names (both --only q1,q2 and --only=q1,q2)",
    )
    p.add_argument("--out", default=None, help="artifact path")
    p.add_argument(
        "--keep", action="store_true", help="keep the perturbed clone"
    )
    p.add_argument("--tz-worker", nargs=2, metavar=("ZONE", "OUT"),
                   help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    a.only = set(x for x in a.only.split(",") if x) if a.only else None
    if a.out is None and a.only is None:
        a.out = os.path.join(REPO, ARTIFACTS[a.perturb])
    return a


def _names(only: set | None) -> list[str]:
    import __spark_entry__ as entry

    qs = entry.queries()
    unknown = sorted((only or set()) - set(qs))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    return sorted(n for n in qs if only is None or n in only)


def run(args, spark=None) -> tuple[dict, int]:
    """Run the sweep ``args`` selects on ``spark`` (unused by ``tz``,
    whose zones each need their own JVM); returns (artifact, number of
    failures) and writes the artifact only when ``args.out`` is set."""
    names = _names(args.only)
    full = args.only is None
    if args.perturb is None:
        art, bad = sweep_manifest(spark, args.sf_dir, names)
    elif args.perturb == "tz":
        art, bad = sweep_tz(args.sf_dir, names, full)
    else:
        work = tempfile.mkdtemp(prefix=f"sweep_{args.perturb}_")
        try:
            if args.perturb == "junk":
                art, bad = sweep_junk(spark, args.sf_dir, names, full, work)
            else:
                art, bad = sweep_schema(spark, args.sf_dir, names, work)
        finally:
            if args.keep:
                print(f"kept perturbed clone at {work}", flush=True)
            else:
                shutil.rmtree(work, ignore_errors=True)
    summary = art.get("counts") or {
        k: art[k] for k in ("n_verified", "n_failed")
    }
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(art, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {args.out}: {len(names)} run, {summary}", flush=True)
    else:
        print(f"{len(names)} run, {summary} (nothing written)", flush=True)
    return art, bad


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(sys.argv[1:] if argv is None else argv)
    if args.tz_worker:
        zone, out = args.tz_worker
        _tz_worker(zone, args.sf_dir, _names(args.only), out)
        return 0
    spark = None if args.perturb == "tz" else bare_session()
    try:
        _, bad = run(args, spark)
    finally:
        if spark is not None:
            spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
