"""Tri-mode CLI: --configGen | --dryrun | --apply.

Rebuilds ``src/cli/args.ts`` (C1: exactly one mode, error on 0 or >1) and the
orchestration in ``src/main.ts:21-133``.

Usage:
    python -m database_anonymiser_spark.cli --configGen --data /root/testdata/sf0.001
    python -m database_anonymiser_spark.cli --dryrun   --data ... --config anonymiser.config.yaml
    python -m database_anonymiser_spark.cli --apply    --data ... --config ... --out /tmp/out
"""

from __future__ import annotations

import argparse
import sys

from database_anonymiser_spark.catalog import ParquetCatalog
from database_anonymiser_spark.config import read_generated_config, write_yaml
from database_anonymiser_spark.config_gen import generate_config
from database_anonymiser_spark.executor import execute_plan
from database_anonymiser_spark.planner import build_plan
from database_anonymiser_spark.preflight import preflight_validate
from database_anonymiser_spark.reporting import build_report, write_json_report
from database_anonymiser_spark.session import get_spark

CONFIG_FILE = "anonymiser.config.yaml"  # ≅ constants.ts:1-2
SAMPLES_FILE = "anonymiser.samples.yaml"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="database-anonymiser-spark")
    p.add_argument("--configGen", action="store_true")
    p.add_argument("--dryrun", action="store_true")
    p.add_argument("--apply", action="store_true")
    p.add_argument("--data", required=True, help="directory of <table>.parquet files")
    p.add_argument("--config", default=CONFIG_FILE)
    p.add_argument("--out", default=None, help="output root for apply mode")
    p.add_argument("--report", default=None, help="JSON report path")
    p.add_argument("--force", action="store_true", help="override the row-cap safeguard")
    p.add_argument("--unsafeSamples", action="store_true")
    p.add_argument(
        "--keyed",
        action="store_true",
        help="with --configGen: default the HASH targets (phone/mobile/"
        "username) to the keyed HASH_HMAC strategy instead of the "
        "reference's un-keyed hash (dictionary-reversible on low-entropy "
        "domains); the key itself is NEVER written to the config",
    )
    p.add_argument(
        "--hmacKey", default=None, dest="hmac_key",
        help="secret key for HASH_HMAC / HASH_KEYED strategies (or set "
        "the ANONYMISER_HMAC_KEY environment variable); never logged, "
        "never in the config or report",
    )
    p.add_argument(
        "--versioned",
        action="store_true",
        help="apply through commit-log tables under --out (one atomic "
        "'anonymise' version per table; rollback = restore; version 0 "
        "keeps the pristine pre-image for time travel)",
    )
    p.add_argument(
        "--purgeHistory",
        action="store_true",
        help="with --versioned: after a successful apply, collapse each "
        "table's retention to the anonymised version only (the pristine "
        "pre-images time travel could resurrect are reclaimed from disk "
        "and their absence verified) — the compliance-mode complement of "
        "the default keep-version-0-for-rollback behavior",
    )
    p.add_argument(
        "--audit",
        action="store_true",
        help="release gate (round-10 extension, no reference analogue): "
        "k-anonymity audit of --table over the --quasi columns; exits "
        "non-zero when any equivalence class is smaller than --k (add "
        "--sensitive for the l-diversity homogeneity check). Run it on "
        "an --apply output directory before shipping the data.",
    )
    p.add_argument("--table", default=None, help="table to audit")
    p.add_argument(
        "--quasi", default=None,
        help="comma-separated quasi-identifier columns for --audit",
    )
    p.add_argument("--k", type=int, default=10, help="k for --audit")
    p.add_argument(
        "--sensitive", default=None,
        help="sensitive column for the --audit l-diversity check",
    )
    p.add_argument("--l", type=int, default=2, dest="l_required",
                   help="l for the --audit l-diversity check")
    p.add_argument(
        "--t", type=float, default=None, dest="t_required",
        help="t for the --audit t-closeness check (needs --sensitive); "
        "catches the skewness attack distinct-l misses",
    )
    p.add_argument(
        "--entropyL", type=float, default=None, dest="entropy_l",
        help="l for the --audit ENTROPY l-diversity check (needs "
        "--sensitive); penalizes in-class skew, not just distinctness",
    )
    p.add_argument(
        "--tOrdered", type=float, default=None, dest="t_ordered",
        help="t for the --audit ORDERED-EMD t-closeness check (numeric "
        "sensitive attributes; needs --sensitive) — adjacency-aware",
    )
    p.add_argument(
        "--enforceOut", default=None, dest="enforce_out",
        help="with --audit: when k-anonymity fails, SUPPRESS the "
        "violating classes and write the k-anonymous output here "
        "(parquet); the report records rows_suppressed and the exit "
        "code grades the ENFORCED output",
    )
    p.add_argument(
        "--dpOut", default=None, dest="dp_out", metavar="PATH",
        help="with --audit: also WRITE an ε-differentially-private "
        "release of the quasi-group counts (dp_noisy_counts) to this "
        "parquet path — the publishable histogram companion to the "
        "audit verdict; noise is a pure function of (group, --dpSeed)",
    )
    p.add_argument(
        "--epsilon", type=float, default=1.0,
        help="ε for --dpOut (default 1.0)",
    )
    p.add_argument(
        "--dpSeed", type=int, default=0, dest="dp_seed",
        help="seed recorded with a --dpOut release (reproducible noise)",
    )
    p.add_argument(
        "--sql", default=None, metavar="STATEMENT",
        help="SQL mode (round 12): register every --data table as a "
        "temp view (plus any --versionedTable pins), run ONE statement, "
        "print the result (or write it with --out) and a JSON report. "
        "Round 13: UPDATE / DELETE / MERGE INTO statements against an "
        "un-pinned --versionedTable view route to the table's native "
        "ops and land as one commit (CDF-visible, time travel intact)",
    )
    p.add_argument(
        "--sqlFile", default=None, dest="sql_file", metavar="PATH",
        help="SQL mode: read from a file instead of --sql; a file may "
        "hold a SCRIPT of semicolon-separated DML statements (the "
        "reference's execution shape — per-table UPDATEs in one run), "
        "executed in order, one commit each (round 13)",
    )
    p.add_argument(
        "--sqlDryrun", action="store_true", dest="sql_dryrun",
        help="SQL mode, DML only: parse + validate each statement and "
        "count the rows it WOULD touch, committing nothing — the "
        "reference's BEGIN..ROLLBACK dry-run transaction "
        "(executor.ts:98-136) on the immutable log (round 13)",
    )
    p.add_argument(
        "--emitSql", default=None, dest="emit_sql", metavar="PATH",
        help="with --dryrun: ALSO write the resolved plan as a SQL DML "
        "script (one UPDATE per table — the reference's literal "
        "query-builder.ts artifact), reviewable and runnable back "
        "through --sqlFile against versioned views; keyed strategies "
        "emit {{HMAC_*_HEX}} placeholders, never key material (r13)",
    )
    p.add_argument(
        "--emitSqlTxn", action="store_true", dest="emit_sql_txn",
        help="with --emitSql: wrap the script in BEGIN; ... COMMIT; — "
        "the reference's whole-apply transaction (main.ts:102-111), "
        "executed atomically by the script face (one txn_publish per "
        "table, nothing visible on failure) (r14)",
    )
    p.add_argument(
        "--emitErase", default=None, dest="emit_erase", metavar="PATH",
        help="standalone mode: render a reviewable GDPR Art. 17 erasure "
        "script (ERASE FROM <table> WHERE <key> IN (...)) from a "
        "--subjects file, runnable through --sqlFile (preview with "
        "--sqlDryrun); requires --eraseTable, --eraseKey, --subjects "
        "(r15)",
    )
    p.add_argument(
        "--eraseTable", default=None, dest="erase_table",
        help="with --emitErase: the table the erasure targets",
    )
    p.add_argument(
        "--eraseKey", default=None, dest="erase_key",
        help="with --emitErase: the subject-key column",
    )
    p.add_argument(
        "--subjects", default=None, dest="subjects", metavar="FILE",
        help="with --emitErase: text file of subject-key values, one "
        "per line (the DSAR list); blanks drop, duplicates collapse",
    )
    p.add_argument(
        "--subjectType", default="auto", dest="subject_type",
        choices=("auto", "int", "string"),
        help="with --emitErase: how subject literals render — match the "
        "KEY COLUMN's type ('auto' infers: integers only when every "
        "subject is a canonical integer, else quoted strings; '007' "
        "style values always quote so a string key never coerce-matches "
        "more rows than the DSAR names)",
    )
    p.add_argument(
        "--sqlRollbackOnError", action="store_true", dest="sql_rollback",
        help="SQL mode, scripts: when a later statement fails, RESTORE "
        "every table the script already touched to its pre-script "
        "version (the reference's whole-apply rollback, "
        "main.ts:100-133, as forward auditable restore commits — "
        "history keeps the attempted statements, time travel shows "
        "them, the head is the pre-script image)",
    )
    p.add_argument(
        "--versionedTable", action="append", default=None,
        dest="versioned_tables", metavar="NAME=ROOT[@PIN]",
        help="SQL mode: also register a commit-log table as view NAME "
        "(repeatable); @PIN pins a time-travel read — a version number "
        "(versionAsOf) or ts:<ISO-8601> (timestampAsOf, round 13). "
        "An UN-pinned view is also the DML target surface",
    )
    p.add_argument(
        "--changesTable", action="append", default=None,
        dest="changes_tables", metavar="NAME=ROOT[@SINCE[..END]]",
        help="SQL mode: register a commit-log table's CHANGE DATA FEED "
        "as view NAME (repeatable) — Delta CDF's layout (_change_type, "
        "_commit_version, _commit_timestamp) via the DataSource's "
        "readChangeFeed path. @SINCE sets the start (default version 0) "
        "and ..END bounds it (round 13); each side is a version number "
        "or ts:<ISO-8601> (starting/endingTimestamp)",
    )
    p.add_argument(
        "--maxRows", type=int, default=20, dest="max_rows",
        help="SQL mode: print at most this many result rows",
    )
    p.add_argument(
        "--pushdown", action=argparse.BooleanOptionalAction, default=False,
        help="SQL mode: register --versionedTable views through the "
        "FILE-SKIPPING pushdown reader face (equality/range/IN filters "
        "prune files by stats + bloom before Spark re-evaluates rows; "
        "sets spark.sql.python.filterPushdown.enabled). Off by default: "
        "Spark keeps one planned read per view, so a view scanned twice "
        "in a session (a later query, a self-join, a UNION) reuses the "
        "last pushed filter's files and answers wrongly; the default "
        "plain snapshot face reads every live file",
    )
    args = p.parse_args(argv)
    if args.sql is not None and args.sql_file is not None:
        p.error("set --sql OR --sqlFile, not both")
    args.sqlMode = args.sql is not None or args.sql_file is not None
    args.emitEraseMode = args.emit_erase is not None
    modes = [
        m for m in (
            "configGen", "dryrun", "apply", "audit", "sqlMode",
            "emitEraseMode",
        )
        if getattr(args, m)
    ]
    if len(modes) != 1:  # C1 (args.ts:7-29), extended with audit + sql
        p.error(
            "exactly one of --configGen | --dryrun | --apply | --audit "
            "| --sql/--sqlFile | --emitErase is required"
        )
    if args.emitEraseMode and not (
        args.erase_table and args.erase_key and args.subjects
    ):
        p.error("--emitErase requires --eraseTable, --eraseKey, --subjects")
    if (args.versioned_tables or args.changes_tables) and not args.sqlMode:
        p.error("--versionedTable/--changesTable are --sql mode options")
    if args.dp_out is not None and not args.audit:
        p.error("--dpOut requires --audit")
    if args.purgeHistory and not args.versioned:
        p.error("--purgeHistory requires --versioned")
    if args.audit and (not args.table or not args.quasi):
        p.error("--audit requires --table and --quasi")
    if args.audit and args.sensitive is None and (
        args.t_required is not None
        or args.entropy_l is not None
        or args.t_ordered is not None
    ):
        p.error("--t / --tOrdered / --entropyL need --sensitive")
    args.mode = modes[0]
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if args.hmac_key is not None:
        # install before any plan compiles; the argparse namespace is the
        # only place the key transits — it is never echoed or reported
        from database_anonymiser_spark.strategies import set_hmac_key

        set_hmac_key(args.hmac_key)
    if args.mode == "emitEraseMode":
        # pure text rendering — no Spark session, no data read: the
        # DSAR list goes in, a reviewable ERASE script comes out
        from pathlib import Path as _P

        from database_anonymiser_spark.sql_gen import emit_erase_script

        try:
            script = emit_erase_script(
                args.erase_table, args.erase_key,
                _P(args.subjects).read_text().splitlines(),
                key_type=args.subject_type,
            )
            _P(args.emit_erase).write_text(script)
        except (OSError, ValueError) as e:
            print(f"emitErase: {e}", file=sys.stderr)
            return 2
        n = script.count("ERASE FROM")
        print(
            f"emitted erase script → {args.emit_erase} "
            f"({n} statement(s) on {args.erase_table}.{args.erase_key})"
        )
        return 0
    spark = get_spark()
    catalog = ParquetCatalog(spark, args.data)

    if args.mode == "configGen":
        art = generate_config(
            catalog, unsafe_samples=args.unsafeSamples, keyed=args.keyed
        )
        write_yaml(args.config, art.config.to_dict())
        write_yaml(SAMPLES_FILE, art.samples)
        print(f"wrote {args.config} and {SAMPLES_FILE}")
        return 0

    if args.mode == "sqlMode":
        import time as _time
        from pathlib import Path

        from database_anonymiser_spark.sources.spark_datasource import (
            VersionedDataSource,
        )

        stmt = args.sql if args.sql is not None else Path(args.sql_file).read_text()
        # every --data table is a view under its bare name (the same
        # catalog the other modes plan over), so TPC-H-shaped statements
        # run as-is against the extract directory
        for ti in catalog.list_tables():
            catalog.read(ti.name).createOrReplaceTempView(ti.name)
        versioned_views: dict[str, dict] = {}
        if args.versioned_tables or args.changes_tables:
            spark.dataSource.register(VersionedDataSource)

            def _spec(raw: str, flag: str):
                name, sep, rest = raw.partition("=")
                if not sep or not name or not rest:
                    raise SystemExit(
                        f"{flag} {raw!r}: expected NAME=ROOT[@PIN]"
                    )
                root, _, pin = (
                    rest.rpartition("@") if "@" in rest else (rest, "", "")
                )
                return name, root, pin

            def _axis(reader, val: str, flag: str, version_opt: str,
                      ts_opt: str):
                """One time-axis value: a version number, or ts:<ISO>
                (round 13 — CLI parity with the DataSource's timestamp
                options)."""
                if val.startswith("ts:"):
                    return reader.option(ts_opt, val[3:])
                if not val.isdigit():
                    raise SystemExit(
                        f"{flag}: pin {val!r} must be a version number "
                        "or ts:<ISO-8601 UTC>"
                    )
                return reader.option(version_opt, val)

            if args.pushdown:
                spark.conf.set(
                    "spark.sql.python.filterPushdown.enabled", "true"
                )
            for spec in args.versioned_tables or []:
                name, root, ver = _spec(spec, "--versionedTable")
                reader = spark.read.format("versioned").option("path", root)
                if args.pushdown:
                    reader = reader.option("pushdown", "true")
                if ver:
                    # time travel through the DataSource option path
                    reader = _axis(reader, ver, "--versionedTable",
                                   "versionAsOf", "timestampAsOf")
                reader.load().createOrReplaceTempView(name)
                versioned_views[name.lower()] = {
                    "root": root, "pinned": bool(ver)
                }
            for spec in args.changes_tables or []:
                name, root, pin = _spec(spec, "--changesTable")
                reader = (
                    spark.read.format("versioned")
                    .option("path", root)
                    .option("readChangeFeed", "true")
                )
                since, _, end = pin.partition("..")
                if since:
                    reader = _axis(reader, since, "--changesTable",
                                   "startingVersion", "startingTimestamp")
                else:
                    reader = reader.option("startingVersion", "0")
                if end:
                    reader = _axis(reader, end, "--changesTable",
                                   "endingVersion", "endingTimestamp")
                reader.load().createOrReplaceTempView(name)
        t0 = _time.time()
        from database_anonymiser_spark.sql_dml import (
            SqlDmlError,
            classify_dml,
            execute_dml,
            split_statements,
        )

        from pyspark.errors import AnalysisException as _SparkAnalysisError

        from database_anonymiser_spark.sql_dml import (
            claim_utility,
            classify_utility,
            created_view_name,
            execute_utility,
            statement_target,
        )

        from database_anonymiser_spark.sql_txn import (
            ScriptTransaction,
            classify_txn,
            sweep_workspaces,
        )
        from database_anonymiser_spark.sources.txn import (
            TransactionAborted,
            recover as txn_recover,
        )

        # crash repair BEFORE any statement runs (round-14 review): a
        # prior run that died between the 2PC manifest rename and the
        # last txn_publish commit left a DECIDED transaction
        # half-applied — recover() rolls it forward; sweep reclaims
        # stale UNdecided workspaces (age-guarded: a live transaction
        # in another process keeps its workspace)
        for _meta in {v["root"]: v for v in versioned_views.values()}.values():
            try:
                txn_recover(_meta["root"])
                sweep_workspaces(_meta["root"])
            except OSError:
                pass  # unreadable foreign _txn dir: not ours to repair

        stmts = split_statements(stmt)

        # routing runs BEFORE execution, but a script may target tables
        # its own earlier CREATE/CONVERT statements register — the
        # speculative set makes claim_utility see those names (round 14)
        speculative_views = dict(versioned_views)
        for s in stmts:
            n = created_view_name(s)
            if n:
                speculative_views.setdefault(
                    n.lower(), {"root": "", "pinned": False}
                )

        def _routed(s: str) -> bool:
            # claim_utility, not classify_utility: DESCRIBE/ALTER/CREATE
            # are valid plain Spark SQL too — only the engine's own
            # maintenance shapes route away from spark.sql (round-14
            # advice fix: 'DESCRIBE customer' must keep working)
            return bool(
                classify_dml(s)
                or claim_utility(s, speculative_views)
                or classify_txn(s)
            )

        if args.sql_rollback and any(
            classify_utility(s) == "erase" for s in stmts
        ):
            # round-14 review finding: ERASE physically reclaims its
            # pre-images (vacuum grace 0 + log-stat scrub), so a later
            # restore-to-pre-script-version would commit REFERENCES TO
            # DELETED FILES while claiming a successful rollback — and
            # would also falsely "resurrect" GDPR-erased data
            print(
                "sql: ERASE cannot participate in --sqlRollbackOnError "
                "(its pre-images are physically reclaimed; a rollback "
                "across it would reference deleted files). Run the "
                "erase in its own invocation.",
                file=sys.stderr,
            )
            return 2
        if len(stmts) > 1 and not all(_routed(s) for s in stmts):
            print(
                "sql: a multi-statement script must be ALL DML/maintenance/"
                "transaction-control (UPDATE/DELETE/INSERT/MERGE/OPTIMIZE/"
                "VACUUM/RESTORE/DESCRIBE/ALTER/EXPLAIN/BEGIN/COMMIT/"
                "ROLLBACK); run SELECTs one at a time",
                file=sys.stderr,
            )
            return 2
        if stmts and _routed(stmts[0]):
            # UPDATE / DELETE / MERGE INTO route to the versioned table's
            # native ops — one commit per statement, CDF-visible,
            # OCC-rebased (round 13; per-table UPDATE ... SET scripts are
            # the reference's entire execution surface,
            # src/executor/query-builder.ts:58-61 / executor.ts:104-132);
            # --sqlDryrun validates + counts without committing
            frags = []
            # pre-script head of every table the script touches (first
            # touch wins) — the --sqlRollbackOnError restore targets
            start_versions: dict[str, int] = {}

            def _note_start(table: str):
                key = table.lower()
                if args.sql_rollback and key not in start_versions:
                    from database_anonymiser_spark.sources.versioned import (
                        VersionedTable,
                    )

                    start_versions[key] = VersionedTable(
                        spark, versioned_views[key]["root"]
                    ).latest_version()

            def _rollback_script() -> list[str]:
                from database_anonymiser_spark.sources.versioned import (
                    VersionedTable,
                )

                restored = []
                for key, v_start in reversed(list(start_versions.items())):
                    t = VersionedTable(spark, versioned_views[key]["root"])
                    if t.latest_version() != v_start:
                        t.restore(v_start)
                        restored.append(key)
                # round-14 review: a registered MATERIALIZED VIEW over a
                # restored source would otherwise hold aggregates from
                # the rolled-back changes until someone refreshes it —
                # refresh now (the view's commit-boundary watermark makes
                # this exact: the diff across the restore sees the NET
                # state change, so the view lands back on the source's
                # restored truth)
                restored_roots = {
                    str(VersionedTable(
                        spark, versioned_views[k]["root"]
                    ).root)
                    for k in restored
                }
                if restored_roots:
                    from database_anonymiser_spark.sources.materialized import (
                        refresh_materialized,
                    )

                    for key, meta2 in versioned_views.items():
                        t2 = VersionedTable(spark, meta2["root"])
                        props = t2._raw_properties() or {}
                        if props.get("ivm.source") in restored_roots:
                            refresh_materialized(spark, meta2["root"])
                            restored.append(f"{key} (refreshed)")
                return restored

            txn = None  # the open BEGIN..COMMIT group, if any (round 14)
            for s in stmts:
                try:
                    # note the head BEFORE the op so a failing later
                    # statement can restore this one's effect too — the
                    # target comes from the statement front's own
                    # identifier grammar, so quoted views are tracked
                    # (round-14 advice fix: the old bare-identifier
                    # regex left `cust`-quoted targets un-restored)
                    tgt = statement_target(s)
                    if tgt and tgt.lower() in versioned_views:
                        _note_start(tgt)
                    tk = classify_txn(s)
                    if tk == "begin":
                        if txn is not None:
                            raise SqlDmlError(
                                "nested BEGIN: transactions do not nest"
                            )
                        if args.sql_dryrun:
                            frag = {"mode": "sql_txn_dryrun", "op": "begin"}
                        else:
                            txn = ScriptTransaction(spark, versioned_views)
                            frag = {"mode": "sql_txn", "op": "begin",
                                    "txn": txn.id, "statement": s}
                    elif tk in ("commit", "rollback"):
                        if args.sql_dryrun:
                            frag = {"mode": "sql_txn_dryrun", "op": tk}
                        elif txn is None:
                            raise SqlDmlError(f"{tk.upper()} without BEGIN")
                        else:
                            frag = (
                                txn.commit() if tk == "commit"
                                else txn.rollback()
                            )
                            txn = None
                    elif txn is not None:
                        # inside an open transaction: DML stages against
                        # the workspace fork; dryrun never opens one
                        frag = txn.execute(s)
                    elif claim_utility(s, versioned_views):
                        if args.sql_dryrun and classify_utility(s) not in (
                            "erase",     # previewable by design (r15)
                            "explain",   # never executes anyway
                            "truncate",  # transactional since r15 — a
                                         # BEGIN..TRUNCATE..COMMIT script
                                         # must be previewable too
                        ):
                            print(
                                "--sqlDryrun covers DML statements only "
                                f"(maintenance statement: {s[:60]!r})",
                                file=sys.stderr,
                            )
                            return 2
                        frag = execute_utility(
                            spark, s, versioned_views,
                            dryrun=args.sql_dryrun,
                        )
                    else:
                        frag = execute_dml(
                            spark, s, versioned_views, dryrun=args.sql_dryrun
                        )
                except (
                    SqlDmlError, ValueError, _SparkAnalysisError,
                    TransactionAborted,
                ) as e:
                    if txn is not None:
                        # an open transaction never half-applies: discard
                        # the workspaces — NO table shows any effect
                        txn.rollback()
                        txn = None
                    # SqlDmlError = skeleton/contract refusals from the
                    # statement front; ValueError = the native ops' own
                    # precondition refusals (unknown column, identity
                    # assignment, clause shape); AnalysisException = a
                    # bad expression inside a slot. All three abort the
                    # statement cleanly (nothing of IT committed).
                    print(f"sql dml: {e}", file=sys.stderr)
                    if frags and args.sql_rollback:
                        restored = _rollback_script()
                        print(
                            f"script rolled back: {len(restored)} table(s) "
                            f"restored to their pre-script version(s) "
                            f"({', '.join(restored)}) — the attempted "
                            "statements remain time-travelable history",
                            file=sys.stderr,
                        )
                    elif frags:
                        print(
                            f"(script aborted after {len(frags)} committed "
                            "statement(s); each statement is its own "
                            "commit — pass --sqlRollbackOnError to restore "
                            "touched tables on failure)",
                            file=sys.stderr,
                        )
                    return 2
                frags.append(frag)
                if frag["mode"] == "sql_txn_dryrun":
                    print(f"sql dryrun {frag['op']}: transaction control "
                          "acknowledged (statements count individually)")
                elif frag["mode"] == "sql_txn":
                    if frag["op"] == "commit":
                        pub = ", ".join(
                            f"{k} → v{v['new_version']}"
                            for k, v in frag["tables"].items()
                        ) or "no changes"
                        print(
                            f"sql txn commit [{frag['txn']}]: "
                            f"{frag['statements']} statement(s) published "
                            f"atomically ({pub})"
                        )
                    elif frag["op"] == "rollback":
                        print(
                            f"sql txn rollback [{frag['txn']}]: "
                            f"{frag['statements_discarded']} staged "
                            "statement(s) discarded — nothing was visible"
                        )
                    else:
                        print(f"sql txn begin [{frag['txn']}]")
                elif frag["mode"] == "sql_txn_stmt":
                    print(
                        f"sql txn {frag['op']}: {frag['table']} staged "
                        f"(workspace v{frag['workspace_version']}; visible "
                        "at COMMIT)"
                    )
                elif frag["mode"] == "sql_explain":
                    bits = [
                        f"class={frag.get('class')}",
                        f"native={frag.get('native_op')}",
                    ]
                    if "files_would_read" in frag:
                        bits.append(
                            f"files {frag['files_would_read']}"
                            f"/{frag['files_total']}"
                        )
                    if frag.get("prune"):
                        bits.append(f"prune={frag['prune']}")
                    if frag.get("membership"):
                        bits.append(
                            f"membership={frag['membership']['plan']}"
                        )
                    print(
                        f"sql explain: {frag.get('table', '')} "
                        + " ".join(bits)
                    )
                elif frag["mode"] == "sql_utility":
                    # not every utility frag carries the same keys
                    # (CONVERT without AS has no view name; CLONE has
    # rows, not a version) — summarize from what's there (round 14)
                    subj = frag.get("table") or frag.get("root") or ""
                    if "rows" in frag:
                        for r in frag["rows"][: args.max_rows]:
                            print(r)
                        print(f"sql {frag['op']}: {subj}")
                    else:
                        if "new_version" in frag:
                            tail_slot = f"→ version {frag['new_version']}"
                        elif "files_reclaimed" in frag:
                            tail_slot = (
                                f"reclaimed {frag['files_reclaimed']} file(s)"
                            )
                        elif "num_rows" in frag:
                            tail_slot = f"({frag['num_rows']} rows)"
                        else:
                            tail_slot = ""
                        print(f"sql {frag['op']}: {subj} {tail_slot}".rstrip())
                elif args.sql_dryrun:
                    counts = {
                        k: v for k, v in frag.items()
                        if k.endswith("_rows") or k == "rows_would_change"
                    }
                    print(f"sql dryrun {frag['op']}: {frag['table']} {counts}")
                else:
                    print(
                        f"sql {frag['op']}: {frag['table']} → version "
                        f"{frag['new_version']} ({frag['metrics']})"
                    )
            if txn is not None:
                # the script ended inside BEGIN without COMMIT/ROLLBACK:
                # discard the workspaces (atomicity: nothing published)
                # and fail loudly — a silent auto-commit would publish
                # work the author never finished reviewing
                txn.rollback()
                print(
                    "sql: script ended inside an open BEGIN (no COMMIT/"
                    "ROLLBACK) — the transaction was rolled back; nothing "
                    "was published",
                    file=sys.stderr,
                )
                return 2
            report = frags[0] if len(frags) == 1 else {
                "mode": "sql_dml_script",
                "dryrun": bool(args.sql_dryrun),
                "statements": frags,
            }
            report["elapsed_sec"] = round(_time.time() - t0, 3)
            write_json_report(
                args.report or "anonymiser.sql.report.json", report
            )
            return 0
        if args.sql_dryrun:
            print("--sqlDryrun applies to DML statements only", file=sys.stderr)
            return 2
        try:
            df = spark.sql(stmts[0] if len(stmts) == 1 else stmt)
        except _SparkAnalysisError as e:
            # a statement nobody claimed and Spark refuses (e.g.
            # DESCRIBE HISTORY of a non-versioned view) reports cleanly
            print(f"sql: {e}", file=sys.stderr)
            return 2
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            n_rows = spark.read.parquet(args.out).count()
            print(f"sql: {n_rows} rows → {args.out}")
        else:
            shown = df.limit(args.max_rows + 1).collect()
            n_rows = len(shown)
            for r in shown[: args.max_rows]:
                print(r.asDict())
            if n_rows > args.max_rows:
                print(f"... (> {args.max_rows} rows; use --out to write all)")
        report = {
            "mode": "sql",
            "statement": stmt,
            "columns": list(df.columns),
            "rows": int(n_rows),
            "truncated": bool(not args.out and n_rows > args.max_rows),
            "out": args.out,
            "elapsed_sec": round(_time.time() - t0, 3),
        }
        write_json_report(args.report or "anonymiser.sql.report.json", report)
        return 0

    if args.mode == "audit":
        from database_anonymiser_spark.operators.privacy import (
            k_anonymity_summary,
            l_diversity,
            l_diversity_entropy,
            t_closeness,
            t_closeness_ordered,
        )

        df = catalog.read(args.table)
        quasi = [c.strip() for c in args.quasi.split(",") if c.strip()]

        def rider_checks(frame) -> tuple[dict, bool]:
            """The requested sensitive-attribute audits of ONE frame —
            shared by the base audit and the enforce re-audit (round-12
            advice: suppression shifts class AND global distributions,
            so a rider verdict computed pre-suppression does not grade
            the written output)."""
            frag: dict = {}
            all_ok = True
            if args.sensitive is not None:
                viol = (
                    l_diversity(frame, quasi, args.sensitive, args.l_required)
                    .where("violates")
                    .count()
                )
                frag["l_diversity"] = {
                    "sensitive": args.sensitive,
                    "l_required": args.l_required,
                    "n_violating_classes": int(viol),
                    "satisfied": viol == 0,
                }
                all_ok = all_ok and viol == 0
            if args.t_required is not None:
                bad = (
                    t_closeness(frame, quasi, args.sensitive, args.t_required)
                    .where("violates")
                    .count()
                )
                frag["t_closeness"] = {
                    "sensitive": args.sensitive,
                    "t": args.t_required,
                    "n_violating_classes": int(bad),
                    "satisfied": bad == 0,
                }
                all_ok = all_ok and bad == 0
            if args.t_ordered is not None:
                bad = (
                    t_closeness_ordered(
                        frame, quasi, args.sensitive, args.t_ordered
                    )
                    .where("violates")
                    .count()
                )
                frag["t_closeness_ordered"] = {
                    "sensitive": args.sensitive,
                    "t": args.t_ordered,
                    "n_violating_classes": int(bad),
                    "satisfied": bad == 0,
                }
                all_ok = all_ok and bad == 0
            if args.entropy_l is not None:
                bad = (
                    l_diversity_entropy(
                        frame, quasi, args.sensitive, args.entropy_l
                    )
                    .where("violates")
                    .count()
                )
                frag["entropy_l_diversity"] = {
                    "sensitive": args.sensitive,
                    "l_required": args.entropy_l,
                    "n_violating_classes": int(bad),
                    "satisfied": bad == 0,
                }
                all_ok = all_ok and bad == 0
            return frag, all_ok

        report = {
            "mode": "audit",
            "table": args.table,
            "quasi": quasi,
            "k_anonymity": k_anonymity_summary(df, quasi, args.k),
        }
        base_riders, riders_ok = rider_checks(df)
        report.update(base_riders)
        ok = report["k_anonymity"]["satisfied"] and riders_ok
        if args.enforce_out is not None and not report["k_anonymity"][
            "satisfied"
        ]:
            # enforcement (round 11): suppression is the minimum-
            # distortion fix — the written output is k-anonymous by
            # construction, and the exit code grades THAT output: the
            # k re-audit AND the riders, all recomputed on the KEPT
            # frame (round-12 advice — the pre-suppression rider
            # verdicts describe a frame that was not written)
            from database_anonymiser_spark.operators.privacy import (
                suppress_to_k,
            )

            kept = suppress_to_k(df, quasi, args.k)
            kept.write.mode("error").parquet(args.enforce_out)
            n_kept = kept.count()
            enforced_riders, enforced_riders_ok = rider_checks(kept)
            report["enforced"] = {
                "out": args.enforce_out,
                "rows_suppressed": report["k_anonymity"]["n_rows"] - n_kept,
                "rows_kept": n_kept,
                "k_anonymity": k_anonymity_summary(kept, quasi, args.k),
                **enforced_riders,
            }
            ok = (
                report["enforced"]["k_anonymity"]["satisfied"]
                and enforced_riders_ok
            )
        if args.dp_out is not None:
            # the publishable companion artifact: an ε-DP histogram of
            # the quasi groups (noise a pure function of (group, seed) —
            # the report records ε and seed so an auditor reproduces the
            # release bit-exactly; the seed must stay as private as the
            # release demands)
            from database_anonymiser_spark.operators.privacy import (
                dp_noisy_counts,
            )

            rel = dp_noisy_counts(df, quasi, args.epsilon, seed=args.dp_seed)
            rel.write.mode("error").parquet(args.dp_out)
            report["dp_release"] = {
                "out": args.dp_out,
                "epsilon": args.epsilon,
                "seed": args.dp_seed,
                "n_groups": rel.count(),
                "mechanism": "laplace_counts",
            }
        report_path = args.report or "anonymiser.audit.report.json"
        write_json_report(report_path, report)
        verdict = "RELEASE OK" if ok else "RELEASE BLOCKED"
        print(f"audit: {verdict}; report → {report_path}")
        return 0 if ok else 1

    config = read_generated_config(args.config)
    preflight_validate(config, args.mode)
    plan = build_plan(config)

    if args.mode == "dryrun":
        if args.emit_sql:
            from database_anonymiser_spark.sql_gen import emit_sql_script

            from pathlib import Path as _Path

            _Path(args.emit_sql).write_text(
                emit_sql_script(
                    catalog, plan, transactional=args.emit_sql_txn
                )
            )
            print(f"emitted SQL script → {args.emit_sql}")
        result = execute_plan(catalog, plan, dryrun=True)
    else:
        if not args.out:
            print("--apply requires --out", file=sys.stderr)
            return 2
        if args.versioned:
            from database_anonymiser_spark.executor import execute_plan_versioned

            result = execute_plan_versioned(
                catalog, plan, args.out, dryrun=False, force=args.force
            )
            if args.purgeHistory and not result.failed_tables:
                from pathlib import Path

                from database_anonymiser_spark.sources.versioned import (
                    VersionedTable,
                )

                for name in result.updated_by_table:
                    t_root = Path(args.out) / name.split(".")[-1]
                    t = VersionedTable(spark, t_root)
                    reclaimed = t.vacuum(retain_versions=1)
                    live = {e["path"] for e in t._live_entries()}
                    on_disk = {
                        str(p.relative_to(t.root))
                        for p in (t.root / "data").rglob("*.parquet")
                    }
                    if on_disk != live:
                        print(
                            f"FAILED purge verification for {name}", file=sys.stderr
                        )
                        return 1
                    print(
                        f"purged {name}: {len(reclaimed)} pre-image file(s) "
                        "reclaimed; only the anonymised version remains"
                    )
        else:
            result = execute_plan(
                catalog, plan, dryrun=False, output_root=args.out, force=args.force
            )

    report = build_report(args.mode, plan, result)
    report_path = args.report or f"anonymiser.{args.mode}.report.json"
    write_json_report(report_path, report)
    failed = result.failed_tables
    if failed:
        # ≅ main.ts:100-133: any table failure rolls back the whole apply and
        # exits non-zero — callers/automation must not see success
        for tr in failed:
            print(f"FAILED {tr.table}: {tr.error}", file=sys.stderr)
        if result.rolled_back:
            print("apply rolled back: no tables were promoted", file=sys.stderr)
        print(
            f"{args.mode}: {len(failed)} table(s) failed; report -> {report_path}",
            file=sys.stderr,
        )
        return 1
    print(f"{args.mode}: {result.total_rows} rows across {len(result.updated_by_table)} tables; report → {report_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
