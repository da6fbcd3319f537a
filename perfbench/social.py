"""The ``social_ops`` workload: the reference engine's own API.

``generate_social_csvs`` (the package's seeded generator) writes the
three flat files; ``Engine.load_flat_files`` loads them into a
snapshot store; then a seeded closed-loop mix of reads and writes
runs in passes, each pass ending in ``Engine.maintain()``.

Every answer is checked against ``Model``, an independent DuckDB copy
of the tables: the generated rows parsed here with the reference's
coerce-or-drop rules, plus every mutation applied in SQL.
"""

from __future__ import annotations

import csv
import os
import random
import re

import duckdb

from flat_file_social_media_database_engine_spark.sources.social_fixture import (
    LOCATIONS,
    generate_social_csvs,
)

COLUMNS = {
    "users": ["id", "username", "location"],
    "posts": ["id", "content", "username", "views"],
    "engagements": ["id", "postId", "username", "type", "comment", "timestamp"],
}
INT_COLS = {"users": {"id"}, "posts": {"id", "views"},
            "engagements": {"id", "postId", "timestamp"}}
_WS = "\t\n\x0b\x0c\r "
_INT = re.compile(r"^[+-]?[0-9]+$")

# Share of each M2 batch whose foreign keys are planted invalid; the
# loader must reject exactly these rows.
M2_BATCH = 10
M2_INVALID = 2
M1_BATCH = 20
WRITE_KINDS = ("m1", "m2", "m3", "delete", "maintain")


def generate(out_dir: str, seed: int) -> dict:
    """Write the CSVs; returns expected clean counts and the number of
    planted dirty lines per table."""
    clean = generate_social_csvs(out_dir, seed)
    planted = {}
    for name, n in clean.items():
        with open(os.path.join(out_dir, f"{name}.csv")) as f:
            lines = f.read().split("\n")[1:-1]  # header, final newline
        planted[name] = len(lines) - n
    return {"clean": clean, "planted_dirty": planted}


def parse_flat_file(path: str, name: str) -> list[tuple]:
    """The reference's coerce-or-drop rules, written independently of
    the engine: exact arity, 6-char whitespace trim, strict int32
    parse, first occurrence of an id wins."""
    cols = COLUMNS[name]
    out, seen = [], set()
    with open(path) as f:
        next(f)
        for line in f:
            fields = line.rstrip("\n").split(",")
            if len(fields) != len(cols):
                continue
            row = []
            for c, v in zip(cols, fields):
                v = v.strip(_WS)
                if c in INT_COLS[name]:
                    if not _INT.match(v) or not -2**31 <= int(v) < 2**31:
                        break
                    v = int(v)
                row.append(v)
            else:
                if row[0] not in seen:
                    seen.add(row[0])
                    out.append(tuple(row))
    return out


class Model:
    """DuckDB tables mirroring what the engine should hold."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        types = {"users": "INT, VARCHAR, VARCHAR",
                 "posts": "INT, VARCHAR, VARCHAR, INT",
                 "engagements": "INT, INT, VARCHAR, VARCHAR, VARCHAR, INT"}
        for name, cols in COLUMNS.items():
            decl = ", ".join(
                f'"{c}" {t}' for c, t in zip(cols, types[name].split(", "))
            )
            self.con.execute(f"CREATE TABLE raw_{name} ({decl})")
            rows = parse_flat_file(os.path.join(data_dir, f"{name}.csv"), name)
            if rows:
                self.con.executemany(
                    f"INSERT INTO raw_{name} VALUES ({', '.join('?' * len(cols))})",
                    rows,
                )
        self.parsed = {n: self.count(f"raw_{n}") for n in COLUMNS}
        # load-time RI: posts against users, engagements against both
        self.con.execute("CREATE TABLE users AS SELECT * FROM raw_users")
        self.con.execute(
            "CREATE TABLE posts AS SELECT * FROM raw_posts "
            "WHERE username IN (SELECT username FROM users)")
        self.con.execute(
            "CREATE TABLE engagements AS SELECT * FROM raw_engagements "
            "WHERE postId IN (SELECT id FROM posts) "
            "AND username IN (SELECT username FROM users)")

    def count(self, table: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]

    def col(self, sql: str) -> list:
        return [r[0] for r in self.con.execute(sql).fetchall()]

    def q1(self, user_id: int) -> list[tuple]:
        return self.con.execute(
            "SELECT postId, comment FROM engagements WHERE type = 'comment' "
            "AND username = (SELECT username FROM users WHERE id = ?) "
            "ORDER BY postId, comment", [user_id]).fetchall()

    def q2(self, location: str) -> tuple:
        return self.con.execute(
            "SELECT count(*) FILTER (WHERE type = 'like'), "
            "count(*) FILTER (WHERE type = 'comment') FROM engagements "
            "WHERE username IN (SELECT username FROM users WHERE location = ?)",
            [location]).fetchone()

    def m1(self, deltas: list[tuple]) -> None:
        self.con.execute("CREATE OR REPLACE TEMP TABLE d (id INT, delta INT)")
        self.con.executemany("INSERT INTO d VALUES (?, ?)", deltas)
        self.con.execute(
            "UPDATE posts SET views = greatest(0, views + s.net) FROM "
            "(SELECT id, sum(delta) AS net FROM d GROUP BY id) s "
            "WHERE posts.id = s.id")

    def m2(self, rows: list[tuple]) -> int:
        before = self.count("engagements")
        self.con.executemany(
            "INSERT INTO engagements SELECT $1, $2, $3, $4, $5, $6 WHERE "
            "$2 IN (SELECT id FROM posts) AND $3 IN (SELECT username FROM users)",
            rows)
        return self.count("engagements") - before

    def m3(self, user_id: int, new_name: str) -> None:
        old = self.col(f"SELECT username FROM users WHERE id = {int(user_id)}")
        self.con.execute("UPDATE users SET username = ? WHERE id = ?",
                         [new_name, user_id])
        if old:
            for t in ("posts", "engagements"):
                self.con.execute(f"UPDATE {t} SET username = ? WHERE username = ?",
                                 [new_name, old[0]])

    def delete(self, user_id: int) -> None:
        old = self.col(f"SELECT username FROM users WHERE id = {int(user_id)}")
        if not old:
            return
        self.con.execute(
            "DELETE FROM engagements WHERE username = $1 OR postId IN "
            "(SELECT id FROM posts WHERE username = $1)", [old[0]])
        self.con.execute("DELETE FROM posts WHERE username = ?", [old[0]])
        self.con.execute("DELETE FROM users WHERE id = ?", [user_id])

    def fingerprint(self, table: str) -> tuple:
        """(rows, sum of ids, sum of views or 0, sum of username
        lengths) of one table."""
        extra = "sum(views)" if table == "posts" else "0"
        return tuple(int(v or 0) for v in self.con.execute(
            f"SELECT count(*), sum(id), {extra}, sum(length(username)) "
            f"FROM {table}").fetchone())

    def rows(self, table: str) -> list[tuple]:
        return self.con.execute(
            f"SELECT * FROM {table} ORDER BY id").fetchall()


def engine_fingerprints(tables: dict) -> dict[str, tuple]:
    """``Model.fingerprint`` of each engine DataFrame in ``tables``
    (name -> DataFrame), all of them in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    aggs = [
        df.agg(F.lit(name).alias("t"), F.count("*").alias("n"),
               F.sum("id").alias("ids"),
               (F.sum("views") if "views" in df.columns else F.lit(0)).alias("views"),
               F.sum(F.length("username")).alias("ulen"))
        for name, df in tables.items()
    ]
    rows = reduce(lambda a, b: a.unionByName(b), aggs).collect()
    return {r["t"]: tuple(int(v or 0) for v in r[1:]) for r in rows}


def read_export(path: str, name: str) -> list[tuple]:
    """Rows of an ``export_csv`` file, typed like the model."""
    with open(path, newline="") as f:
        rd = csv.reader(f, quoting=csv.QUOTE_NONE)
        next(rd)
        out = [
            tuple(int(v) if c in INT_COLS[name] else v
                  for c, v in zip(COLUMNS[name], r))
            for r in rd
        ]
    return sorted(out)


class OpStream:
    """Seeded closed-loop operation mix. One pass: 9 Q1 (a third of
    them unknown user ids), 5 Q2, 1 M1 batch, 2 M2 batches with a
    planted share of FK-invalid rows, 1 M3 rename, 1 delete_user, and
    ``maintain`` last. Reads are two thirds of the operations, so the
    pooled median latency sits inside the read cluster rather than on
    its edge. Parameters are drawn from the model's current state, so
    every write targets rows that exist. Each kind is one the
    reference's tests call, but the ratios and batch sizes were chosen
    here, not measured: the reference has no operation log to fit."""

    KINDS = ["q1"] * 9 + ["q2"] * 5 + ["m1", "m2", "m2", "m3", "delete"]

    def __init__(self, seed: int, model: Model):
        self.rng = random.Random(seed * 7919 + 17)
        self.model = model
        self.next_eng_id = 1_000_000
        self.renames = 0

    def next_pass(self) -> list[tuple[str, object]]:
        kinds = list(self.KINDS)
        self.rng.shuffle(kinds)
        return [(k, self._params(k)) for k in kinds] + [("maintain", None)]

    def _user(self) -> int:
        ids = self.model.col("SELECT id FROM users ORDER BY id")
        return ids[self.rng.randrange(len(ids))]

    def _params(self, kind: str):
        rng, m = self.rng, self.model
        if kind == "q1":
            if rng.random() < 1 / 3:
                return 10_001 + rng.randrange(1000)  # never a user id
            return self._user()
        if kind == "q2":
            return LOCATIONS[rng.randrange(len(LOCATIONS))]
        if kind == "m1":
            ids = m.col("SELECT id FROM posts ORDER BY id")
            return [(ids[rng.randrange(len(ids))] if rng.random() < 0.9
                     else 100_001 + rng.randrange(1000),
                     rng.randrange(-30, 51)) for _ in range(M1_BATCH)]
        if kind == "m2":
            posts = m.col("SELECT id FROM posts ORDER BY id")
            users = m.col("SELECT username FROM users ORDER BY id")
            rows = []
            for i in range(M2_BATCH):
                pid = posts[rng.randrange(len(posts))]
                uname = users[rng.randrange(len(users))]
                if i == 0:
                    pid = 200_001 + rng.randrange(1000)  # dangling post
                elif i == 1:
                    uname = f"ghost{rng.randrange(1000)}"  # dangling user
                typ = "like" if rng.random() < 0.5 else "comment"
                rows.append((self.next_eng_id, pid, uname, typ,
                             "None" if typ == "like" else "bench",
                             1_600_000_000 + rng.randrange(10_000_000)))
                self.next_eng_id += 1
            rng.shuffle(rows)
            return rows
        if kind == "m3":
            self.renames += 1
            return self._user(), f"renamed{self.renames:05d}"
        if kind == "delete":
            return self._user()
        raise ValueError(kind)
