"""The benchmark's workloads.  Each one is a closed loop with one client:

- ``prepare``  generates the seeded inputs (untimed, before set-up);
- ``warm_up``  runs inside set-up, after the session starts;
- ``serve``    issues timed requests until ``run.seconds`` of request time
               has been measured;
- ``verify``   checks every timed request's output (untimed).

Only public package functions are called: the registry's op callables
and oracles, ``migrate.migrate_sqlite`` (plus ``sources.sqlite.read_sqlite``,
``migrate.replacing_dedup`` and ``sources.sinks.sink_parquet`` for the
traced stage split), the ``ann_index_*``, ``er_index_*`` and
``minhash_index_*`` functions with their required arguments, and ``io``'s
manifest readers.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import sqlite3
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen

PKG = "sqlite_to_clickhouse_spark."


def module_of(fn) -> str:
    return fn.__module__.removeprefix(PKG)


def run_df(make_df, traced: bool):
    """Build a DataFrame and collect it.  Traced runs force the executed
    plan first so planning time is split from execution."""
    t0 = time.perf_counter()
    df = make_df()
    t1 = time.perf_counter()
    if traced:
        df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    rows = df.collect()
    t3 = time.perf_counter()
    return (df.columns, rows), {"construct_s": t1 - t0, "plan_s": t2 - t1, "execute_s": t3 - t2}


def _decl(decl: "str | None") -> str:
    """A declared SQLite type's first word, upper-cased (``varchar(15)`` ->
    ``VARCHAR``), the key the reference's type map uses."""
    words = (decl or "").upper().split("(")[0].split()
    return words[0] if words else ""


_ARROW_TYPE = {"INTEGER": pa.int64(), "INT": pa.int64(), "REAL": pa.float64(),
               "FLOAT": pa.float64(), "DATETIME": pa.timestamp("us")}


def _expected_value(t: str, v):
    """The reference's per-value coercion for declared type ``t``,
    written independently of the engine's typemap."""
    if t in ("INTEGER", "INT"):
        return int(v) if v is not None else 0
    if t in ("REAL", "FLOAT"):
        return float(v) if v is not None else 0.0
    if t == "DATETIME":
        if v is None:
            return None
        try:
            return dt.datetime.strptime(str(v).split(".")[0], "%Y-%m-%d %H:%M:%S")
        except ValueError:
            return None
    return None if v is None else str(v)


def _dir_stats(path: str) -> tuple:
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


class Migrate:
    """The reference's job, interleaved with analytics ops.  Requests come in rounds; each round runs, in a seeded order:

    - one migration: ``migrate_sqlite`` of a seeded SQLite database
      (orders + lineitem with NULLs and fractional-second datetimes) into
      a fresh parquet directory;
    - each of OPS once: registered relational, join, window, TPC-H-shape
      and streaming ops on seeded TPC-H-shaped tables, collected.  They
      take 0.3-2 s on 12 000 lineitems, so the per-op floor (construction,
      planning, job scheduling) does most of their work.

    The warm-up is WARM untimed rounds: request times keep falling over
    the first rounds while the JIT settles.  The loop stops at the first request
    after ``run.seconds`` once every class (the migration, each op) has
    run."""

    name = "migrate"
    N_ORDERS = 12_000  # 12 000 orders + 48 000 lineitems
    SF = 0.002  # 12 000 lineitems: small enough that the per-op floor dominates
    OPS = (
        "query_market_share", "join_inner_hash", "window_rank",
        "query_waiting_suppliers", "stream_tumbling",
    )
    MIGRATION = "migration"
    WARM = 2

    def prepare(self, run_dir: str, seed: int) -> None:
        self.seed = seed
        self.db = os.path.join(run_dir, "source.db")
        gen.sqlite_db(self.db, seed, self.N_ORDERS)
        self.out = os.path.join(run_dir, "out")
        self.data = os.path.join(run_dir, "data")
        self.table_rows = gen.tpch(self.data, seed, self.SF)
        self.migrations = []
        self.queries = []
        self.n = 0  # migrations so far, warm-up included

    def _round(self, r: int) -> list:
        classes = (self.MIGRATION,) + self.OPS
        return [classes[i] for i in gen.rng(self.seed, f"round{r}").permutation(len(classes))]

    def warm_up(self, spark, run) -> None:
        from sqlite_to_clickhouse_spark.migrate import migrate_sqlite
        from sqlite_to_clickhouse_spark.registry import all_queries

        self.migrate_sqlite = migrate_sqlite
        reg = all_queries()
        self.ops = {n: reg[n] for n in self.OPS}
        # Input rows of an op: the rows of every fixture table its oracle reads.
        self.items = {
            n: sum(r for t, r in self.table_rows.items() if re.search(rf"\b{t}\b", q.oracle))
            for n, q in self.ops.items()
        }
        for r in range(-self.WARM, 0):
            for klass in self._round(r):
                if klass == self.MIGRATION:
                    migrate_sqlite(spark, self.db, self._target())
                else:
                    self.ops[klass].fn(spark, self.data).collect()
                spark.catalog.clearCache()

    def _target(self) -> str:
        self.n += 1
        return os.path.join(self.out, f"m{self.n}")

    def serve(self, spark, run) -> None:
        classes = 1 + len(self.OPS)
        r = 0
        while True:
            for klass in self._round(r):
                if run.measured >= run.seconds and len(run.by_class) == classes:
                    if run.traced:
                        self._stage_split(spark, run)
                    return
                if klass == self.MIGRATION:
                    self._migrate(spark, run)
                else:
                    self._query(spark, run, klass)
                spark.catalog.clearCache()
            r += 1

    def _migrate(self, spark, run) -> None:
        target = self._target()
        rid, reports = run.request(
            self.MIGRATION, "migrate", "migrate", f"migrate{self.n}",
            lambda: (self.migrate_sqlite(spark, self.db, target), None),
            items=lambda reports: sum(r.rows for r in reports.values()),
            verb="migrate_s",
        )
        if reports is not None:
            self.migrations.append((rid, target, reports))

    def _query(self, spark, run, name: str) -> None:
        fn = self.ops[name].fn
        rid, out = run.request(
            name, "query", module_of(fn), name,
            lambda: run_df(lambda: fn(spark, self.data), run.traced),
            items=self.items[name],
        )
        if out is not None:
            self.queries.append((rid, name, out))

    def _stage_split(self, spark, run) -> None:
        """Traced runs: time each migration stage materialized on its own
        (a noop write), once, after the timed loop."""
        from sqlite_to_clickhouse_spark.migrate import replacing_dedup
        from sqlite_to_clickhouse_spark.sources.sinks import sink_parquet
        from sqlite_to_clickhouse_spark.sources.sqlite import ROWID, read_sqlite

        extract = dedup = write = 0.0
        for t, pk in gen.SQLITE_PK.items():
            def src():
                return read_sqlite(spark, self.db, t, with_rowid=True)

            t0 = time.perf_counter()
            src().write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            replacing_dedup(src(), pk, ROWID).write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            target = os.path.join(self.out, "stages", t)
            sink_parquet(replacing_dedup(src(), pk, ROWID).drop(ROWID), target)
            t3 = time.perf_counter()
            extract += t1 - t0
            dedup += max(0.0, (t2 - t1) - (t1 - t0))
            write += max(0.0, (t3 - t2) - (t2 - t1))
        run.tracer.skip()
        run.layers.update({
            "sources.sqlite.extract_s": extract,
            "migrate.dedup_s": dedup,
            "sources.sinks.write_s": write,
        })

    def _expected(self) -> dict:
        """{table: the rows a correct migration writes, as an arrow table
        sorted by primary key}: every row, coerced by the reference's
        rules."""
        con = sqlite3.connect(self.db)
        out = {}
        try:
            for t, pk in gen.SQLITE_PK.items():
                info = con.execute(f"PRAGMA table_info({t})").fetchall()
                cols = [r[1] for r in info]
                decl = [_decl(r[2]) for r in info]
                rows = con.execute(f"SELECT {', '.join(cols)} FROM {t}").fetchall()
                data = {
                    c: pa.array([_expected_value(d, r[i]) for r in rows], _ARROW_TYPE.get(d, pa.string()))
                    for i, (c, d) in enumerate(zip(cols, decl))
                }
                out[t] = pa.table(data).sort_by([(k, "ascending") for k in pk])
        finally:
            con.close()
        return out

    def verify(self, run) -> None:
        expected = self._expected()
        files = nbytes = nrows = 0
        for rid, target, reports in self.migrations:
            for t, want in expected.items():
                got = pq.read_table(os.path.join(target, t)).select(want.column_names)
                got = got.cast(want.schema).sort_by([(k, "ascending") for k in gen.SQLITE_PK[t]])
                if reports[t].rows != want.num_rows:
                    run.fail(rid, f"migrate {t}: reported {reports[t].rows} rows, want {want.num_rows}")
                elif not got.combine_chunks().equals(want.combine_chunks()):
                    run.fail(rid, f"migrate {t}: written rows differ from the source rows")
            f, b = _dir_stats(target)
            files, nbytes = files + f, nbytes + b
            nrows += sum(r.rows for r in reports.values())
        if self.migrations:
            run.layers["sources.sinks.files"] = files / len(self.migrations)
            run.layers["sources.sinks.bytes_per_row"] = nbytes / max(1, nrows)
            run.detail["sink_bytes_per_row"] = nbytes / max(1, nrows)

        con = check.oracle_connection(self.data, self.table_rows)
        oracle = {}
        for rid, name, (columns, rows) in self.queries:
            if name not in oracle:
                oracle[name] = check.oracle_digest(con, self.ops[name].oracle)
            why = check.mismatch(oracle[name], columns, rows)
            if why:
                run.fail(rid, f"{name}: {why}")
        con.close()


def _untimed(kind, module, label, thunk, verb=None):
    """Drop-in for ``Run.call`` during warm-up: run, don't time."""
    return None, thunk()[0]


def _rows(df) -> list:
    return [r.asDict() for r in df.collect()]


class IndexServing:
    """A long-lived session serving two persisted indexes: the IVF-PQ
    vector index and the entity-resolution (ER) name catalog.  Set-up
    builds both and runs WARM untimed ingest batches (after one, queries
    still run 20-40% slower while the JIT settles).  Each timed request is
    one seeded ingest batch:

    - reads: a top-k ANN query for the batch's probes, then an ER match of
      the batch's names;
    - write: an ANN append of the batch's vectors;
    - every DELETE_EVERY-th batch: an ANN tombstone delete.

    One compaction of each index ends the run; it is checked but kept out
    of the rates.  ER writes cost 5-10 s per call and MinHash calls 7-8 s
    on a 4-core host whatever the batch size, more than the runs' time
    budget allows per request or per run; traced runs measure them once,
    out of the rates: before the compaction an ER append of the names the
    loop matched, an ER delete and an ER match against the changed
    catalog, after it one MinHash index life cycle."""

    name = "index_serving"
    BASE = 400
    BATCH = 40
    PLANTED = 2  # exact copies of live vectors (and names) per batch
    PROBES = 6
    K = 5
    NPROBE = 2
    BASE_NAMES = 300
    NEW_NAMES = 16
    DELETE_EVERY = 3
    WARM = 2
    ANN = "operators.similarity"
    ER = "operators.entity"
    MINHASH = "operators.dedup"

    def prepare(self, run_dir: str, seed: int) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.dir = os.path.join(run_dir, "vectors")
        self.path = os.path.join(run_dir, "index")
        self.er_path = os.path.join(run_dir, "er_index")
        os.makedirs(self.dir, exist_ok=True)
        self.vec = {}
        self.files = [self._write("base", *gen.vectors(seed, "base", self.BASE, 0))]
        self.next_id = self.BASE
        self.live = list(range(self.BASE))
        self.deleted = set()
        self.recent_deleted = []
        self.planted = []  # (copy id, source id) pairs already in the index
        self.next_probe = 1_000_000_000
        self.outputs = []
        self.used_names = set()
        self.catalog = self._fresh_names("catalog", self.BASE_NAMES)
        self.live_names = set(self.catalog)
        self.matched_names = []  # new names the loop matched, appended after it
        self.er_outputs = []

    def _fresh_names(self, stream: str, n: int) -> list:
        """``n`` names never used before in this run."""
        out = []
        for nm in gen.names(self.seed, stream, 4 * n):
            if nm not in self.used_names and len(out) < n:
                self.used_names.add(nm)
                out.append(nm)
        return out

    def _copies(self, stream: str, n: int) -> list:
        """``n`` live catalog names, chosen by seed."""
        live = sorted(self.live_names)
        return [live[j] for j in gen.rng(self.seed, stream).choice(len(live), n, replace=False)]

    def _write(self, name: str, ids, emb, labels) -> str:
        for i, e in zip(ids.tolist(), emb):
            self.vec[i] = e
        path = os.path.join(self.dir, f"{name}.parquet")
        pq.write_table(gen.vectors_table(ids, emb, labels), path)
        return path

    def _batch(self, i: int):
        """Batch ``i``: fresh vectors plus PLANTED exact copies of live ids."""
        ids, emb, labels = gen.vectors(self.seed, f"batch{i}", self.BATCH, self.next_id)
        g = gen.rng(self.seed, f"plant{i}")
        sources = [self.live[j] for j in g.choice(len(self.live), self.PLANTED, replace=False)]
        for k, s in enumerate(sources):
            emb[k] = self.vec[s]
        self.next_id += self.BATCH
        path = self._write(f"batch{i}", ids, emb, labels)
        return path, ids.tolist(), list(zip(ids[: self.PLANTED].tolist(), sources))

    def _probes(self, spark, tag: str, extra_ids):
        """PROBES fresh vectors plus the vectors of ``extra_ids``; returns
        (probe frame, {probe id: the id whose vector it carries})."""
        _, emb, _ = gen.vectors(self.seed, f"probe{tag}", self.PROBES, 0)
        vecs = list(emb) + [self.vec[j] for j in extra_ids]
        pids = list(range(self.next_probe, self.next_probe + len(vecs)))
        self.next_probe += len(vecs)
        df = spark.createDataFrame(
            [(p, [float(x) for x in v]) for p, v in zip(pids, vecs)],
            "probe_id long, p_emb array<float>",
        )
        return df, dict(zip(pids[self.PROBES:], extra_ids))

    def _query(self, spark, call, traced, tag: str, extra_ids) -> None:
        probes, carried = self._probes(spark, tag, extra_ids)
        vectors = spark.read.parquet(*self.files)
        rid, out = call(
            "read", self.ANN, f"query{tag}",
            lambda: run_df(
                lambda: self.sim.ann_index_query(spark, vectors, self.path, probes, k=self.K, nprobe=self.NPROBE),
                traced,
            ),
            verb="query_s",
        )
        if rid is not None and out is not None:
            self.outputs.append((rid, out[1], carried, set(self.deleted), set(self.live)))

    def _match(self, spark, call, traced, tag: str, names: list, selves: list) -> None:
        """ER match of ``names``; ``selves`` are live names among them,
        which must match themselves."""
        batch = spark.createDataFrame([(n,) for n in names], "nm string")
        rid, out = call(
            "read", self.ER, f"match{tag}",
            lambda: run_df(lambda: self.er.er_index_match(spark, batch, self.er_path), traced),
            verb="match_s",
        )
        if rid is not None and out is not None:
            self.er_outputs.append((rid, out[1], set(names), set(selves), set(self.live_names)))

    def _cycle(self, spark, call, traced, i: int) -> int:
        """One ingest batch: ANN query, ER match of NEW_NAMES new names
        and PLANTED live ones, ANN append, and every DELETE_EVERY-th batch
        an ANN delete of the batch's planted copies."""
        path, ids, planted = self._batch(i)
        extra = [c for c, _s in self.planted[-self.PLANTED:]] + self.recent_deleted[-2:]
        self._query(spark, call, traced, str(i), extra)
        new = self._fresh_names(f"new{i}", self.NEW_NAMES)
        copies = self._copies(f"copies{i}", self.PLANTED)
        self._match(spark, call, traced, str(i), new + copies, copies)
        self.matched_names.extend(new)
        batch = spark.read.parquet(path)
        call("write", self.ANN, f"append{i}",
             lambda: (self.sim.ann_index_append(spark, batch, self.path), None),
             verb="append_s")
        self.files.append(path)
        self.live.extend(ids)
        self.planted.extend(planted)
        if i % self.DELETE_EVERY == self.DELETE_EVERY - 1:
            gone = [c for c, _s in planted]
            doomed = spark.createDataFrame([(j,) for j in gone], "vec_id long")
            call("write", self.ANN, f"delete{i}",
                 lambda: (self.sim.ann_index_delete(doomed, self.path), None),
                 verb="delete_s")
            self.deleted.update(gone)
            self.live = [j for j in self.live if j not in self.deleted]
            self.recent_deleted.extend(gone)
        return len(ids)

    def _build(self, run, module: str, label: str, thunk) -> float:
        run.tracer.begin(label)
        t0 = time.perf_counter()
        thunk()
        took = time.perf_counter() - t0
        run.tracer.end(module, {"build_s": took})
        return took

    def warm_up(self, spark, run) -> None:
        """Build both indexes (reported as ``index_build_s`` and
        ``er_build_s``), then run WARM untimed ingest batches (negative
        indices)."""
        from sqlite_to_clickhouse_spark.operators import entity, similarity

        self.sim = similarity
        self.er = entity
        base = spark.read.parquet(*self.files)
        run.detail["index_build_s"] = self._build(
            run, self.ANN, "ann_index_build",
            lambda: similarity.ann_index_build(spark, base, self.path).collect())
        catalog = spark.createDataFrame([(n,) for n in self.catalog], "nm string")
        run.detail["er_build_s"] = self._build(
            run, self.ER, "er_index_build",
            lambda: entity.er_index_build(catalog, self.er_path))
        for i in range(-self.WARM, 0):
            self._cycle(spark, _untimed, False, i)

    def serve(self, spark, run) -> None:
        run.mix = {"batch": self.DELETE_EVERY - 1, "batch+delete": 1}
        i = 0
        while run.measured < run.seconds or len(run.by_class) < len(run.mix):
            deletes = i % self.DELETE_EVERY == self.DELETE_EVERY - 1
            run.begin_request("batch+delete" if deletes else "batch")
            run.end_request(self._cycle(spark, run.call, run.traced, i))
            i += 1
        if run.traced:
            self._er_writes(spark, run)
        run.gauges.update(self._store_gauges())
        self._compact(spark, run)
        if run.traced:
            self._minhash(spark, run)

    def _er_writes(self, spark, run) -> None:
        """Traced runs, one request out of the rates: ER append of the
        loop's new names plus one-edit typos of PLANTED catalog names, ER
        delete of those typos and of PLANTED catalog names, and an ER match
        of the deleted names and of live ones."""
        run.begin_request(None)
        typos = []
        for k, nm in enumerate(self._copies("typo_sources", self.PLANTED)):
            t = gen.typo(self.seed, f"typo{k}", nm)
            if t not in self.used_names:
                self.used_names.add(t)
                typos.append(t)
        added = self.matched_names + typos
        names = spark.createDataFrame([(n,) for n in added], "nm string")
        run.call("write", self.ER, "er_append",
                 lambda: (self.er.er_index_append(spark, names, self.er_path), None),
                 verb="append_s")
        self.live_names.update(added)
        gone = typos + self._copies("er_delete", self.PLANTED)
        doomed = spark.createDataFrame([(n,) for n in gone], "nm string")
        run.call("write", self.ER, "er_delete",
                 lambda: (self.er.er_index_delete(spark, doomed, self.er_path), None),
                 verb="delete_s")
        self.live_names.difference_update(gone)
        selves = self._copies("er_recheck", self.PLANTED)
        selves += [n for n in added[: self.PLANTED] if n in self.live_names]
        self._match(spark, run.call, run.traced, "_after_delete", gone + selves, selves)
        run.end_request(0)

    def _compact(self, spark, run) -> None:
        """One request out of the rates: a compaction of each index."""
        self.compact_rid = run.begin_request(None)
        self.compacted = self.path + "_compact"
        self.er_compacted = self.er_path + "_compact"
        run.call("write", self.ANN, "compact",
                 lambda: (self.sim.ann_index_compact(spark, self.path, self.compacted), None),
                 verb="compact_s")
        run.detail["compact_s"] = run.latency["write"][-1]
        run.call("write", self.ER, "er_compact",
                 lambda: (self.er.er_index_compact(spark, self.er_path, self.er_compacted), None),
                 verb="compact_s")
        run.detail["er_compact_s"] = run.latency["write"][-1]
        run.end_request(0)

    def _minhash(self, spark, run) -> None:
        """Traced runs: one MinHash index life cycle, out of the rates:
        build over BASE documents, look up a batch carrying PLANTED exact
        copies of indexed documents, append the batch, delete the copies,
        compact.  Checked: every copy pairs with its source at Jaccard 1,
        and the compacted index holds exactly the live documents."""
        from pyspark.sql import functions as F

        from sqlite_to_clickhouse_spark import io as gio
        from sqlite_to_clickhouse_spark.operators import dedup

        def frame(rows):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            return df.select("doc_id", F.array_distinct(F.split("text", " ")).alias("tk"))

        base = gen.documents(self.seed, "docs", self.BASE, 0)
        fresh = gen.documents(self.seed, "docs_batch", self.BATCH, self.BASE)
        sources = gen.rng(self.seed, "docs_plant").choice(self.BASE, self.PLANTED, replace=False).tolist()
        batch = [(d, base[s][1]) for (d, _t), s in zip(fresh, sources)] + fresh[self.PLANTED:]
        copies = {d: s for (d, _t), s in zip(batch, sources)}
        path = os.path.join(self.run_dir, "minhash_index")
        compacted = path + "_compact"
        rid = run.begin_request(None)
        run.detail["minhash_build_s"] = self._build(
            run, self.MINHASH, "minhash_index_build",
            lambda: dedup.minhash_index_build(frame(base), "doc_id", "tk", path))
        _, out = run.call(
            "read", self.MINHASH, "minhash_lookup",
            lambda: run_df(lambda: dedup.minhash_index_dedup(spark, frame(batch), "doc_id", "tk", path), True),
            verb="lookup_s",
        )
        run.call("write", self.MINHASH, "minhash_append",
                 lambda: (dedup.minhash_index_append(frame(batch), "doc_id", "tk", path), None),
                 verb="append_s")
        doomed = spark.createDataFrame([(c,) for c in copies], "doc_id long")
        run.call("write", self.MINHASH, "minhash_delete",
                 lambda: (dedup.minhash_index_delete(doomed, path), None),
                 verb="delete_s")
        run.call("write", self.MINHASH, "minhash_compact",
                 lambda: (dedup.minhash_index_compact(spark, path, compacted), None),
                 verb="compact_s")
        run.end_request(0)
        if out is not None:
            pairs = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r["jaccard"] for r in out[1]}
            for c, s in copies.items():
                if pairs.get((min(c, s), max(c, s)), 0.0) < 0.999999:
                    run.fail(rid, f"minhash lookup: copy {c} of document {s} not paired at Jaccard 1")
        files = gio.manifest_relation_files(compacted, "tokens") or []
        kept = sorted(i for f in files for i in pq.read_table(f, columns=["doc_id"]).column(0).to_pylist())
        if kept != sorted(set(range(self.BASE + self.BATCH)) - set(copies)):
            run.fail(rid, "minhash compacted index does not hold exactly the live documents")

    def _store_gauges(self) -> dict:
        """Manifest versions, data files and tombstone rows of both
        indexes, summed."""
        from sqlite_to_clickhouse_spark import io as gio

        versions = files = tombstones = 0
        for path in (self.path, self.er_path):
            current = gio.manifest_read(path) or {}
            tomb = gio.manifest_relation_files(path, "tombstones") or []
            versions += len(gio.manifest_versions(path))
            files += sum(len(f) for f in current.get("relations", {}).values())
            tombstones += sum(pq.read_metadata(f).num_rows for f in tomb)
        return {
            "io.manifest_versions": versions,
            "io.data_files": files,
            "io.tombstone_rows": tombstones,
        }

    def verify(self, run) -> None:
        from sqlite_to_clickhouse_spark import io as gio

        # The compacted stores hold exactly the live vectors and names, no
        # tombstones.
        codes = gio.manifest_relation_files(self.compacted, "codes") or []
        kept = [i for f in codes for i in pq.read_table(f, columns=["vec_id"]).column(0).to_pylist()]
        if sorted(kept) != sorted(self.live) or gio.manifest_relation_files(self.compacted, "tombstones"):
            run.fail(self.compact_rid, "compacted store does not hold exactly the live vectors")
        ents = gio.manifest_relation_files(self.er_compacted, "entities") or []
        kept = [n for f in ents for n in pq.read_table(f, columns=["nm"]).column(0).to_pylist()]
        if sorted(kept) != sorted(self.live_names) or gio.manifest_relation_files(self.er_compacted, "tombstones"):
            run.fail(self.compact_rid, "compacted ER store does not hold exactly the live names")
        for rid, rows, carried, deleted, live in self.outputs:
            by_probe = {}
            for r in rows:
                by_probe.setdefault(r["probe_id"], []).append((r["vec_id"], r["cosine"]))
            n_probes = self.PROBES + len(carried)
            if len(by_probe) != n_probes or any(len(v) != self.K for v in by_probe.values()):
                run.fail(rid, f"expected {self.K} rows for each of {n_probes} probes")
                continue
            back = {v for hits in by_probe.values() for v, _c in hits} & deleted
            if back:
                run.fail(rid, f"tombstoned ids returned: {sorted(back)[:5]}")
            for pid, src in carried.items():
                # every live exact duplicate of the carried vector is found
                same = {j for j in live if np.array_equal(self.vec[j], self.vec[src])}
                hits = dict(by_probe[pid])
                if len(same & hits.keys()) < min(len(same), self.K) or max(hits.values()) < 0.999999:
                    run.fail(rid, f"probe {pid}: exact duplicates {sorted(same)} not all found")
        for rid, rows, names, selves, live in self.er_outputs:
            got = {r["name"]: r for r in rows}
            if len(rows) != len(names) or got.keys() != names:
                run.fail(rid, f"ER match: {len(rows)} rows for {len(names)} names")
                continue
            # Only live names match (never a tombstoned or unknown one),
            # within the blocking edit distance.
            bad = {r["matched_name"] for r in rows if r["matched_name"] is not None} - live
            if bad:
                run.fail(rid, f"ER match returned names not live in the catalog: {sorted(bad)[:3]}")
            if any(r["matched_name"] is not None and not 0 <= r["edit_dist"] <= 2 for r in rows):
                run.fail(rid, "ER match beyond edit distance 2")
            for nm in selves:
                if got[nm]["matched_name"] != nm or got[nm]["edit_dist"] != 0:
                    run.fail(rid, f"ER match: live name {nm!r} not matched to itself")
