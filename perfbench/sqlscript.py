"""Seeded REPL session script over ``excel_rows``.

A script interleaves display reads, ``|out=`` exports and DML the way
an analyst's session does. Every statement is written so that Spark
(the REPL in ``--sqlite-compat`` mode) and SQLite must agree on its
result exactly: each read has a total ORDER BY or returns at most one
row, aggregates are integer (doubles are summed as integer cents), and
every computed column is aliased so both engines name it the same.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from sheetgen import _WORDS

# Lines per script: three reads to each export and each DML line. The
# statement shapes and their order are the same for every seed (DML
# grows the view's plan, which later reads pay for, so the order sets
# the work); the seed picks their parameters.
N_READS, N_EXPORTS, N_DML = 12, 4, 4


@dataclass(frozen=True)
class Line:
    kind: str   # "read" | "export" | "dml"
    sql: str


def _reads(rng: random.Random, names: list[str]) -> list[str]:
    a = rng.randint(0, 95_000)
    k = rng.choice((10, 20, 50, 100))
    w = rng.choice(_WORDS)
    m = rng.choice((7, 10, 13))
    op = rng.choice(("UNION", "INTERSECT", "EXCEPT"))
    return [
        f"SELECT * FROM excel_rows WHERE service_name = '{rng.choice(names)}'",
        f"SELECT service_name, count, average_response_time_95_ms "
        f"FROM excel_rows WHERE count BETWEEN {a} AND {a + 2000} "
        f"ORDER BY service_name LIMIT {k}",
        f"SELECT service_name, count FROM excel_rows "
        f"WHERE service_name LIKE 'ENT_{w}%' AND count > {a} "
        f"ORDER BY count DESC, service_name LIMIT {k}",
        f"SELECT service_name, max_response_time_95_ms FROM excel_rows "
        f"ORDER BY max_response_time_95_ms DESC, service_name LIMIT {k}",
        f"SELECT count % {m} AS bucket, COUNT(*) AS n, "
        f"SUM(count) AS total_count, "
        f"SUM(CAST(ROUND(average_response_time_95_ms * 100) AS BIGINT)) "
        f"AS avg_cents FROM excel_rows GROUP BY count % {m} ORDER BY bucket",
        "SELECT substr(service_name, 5, 4) AS svc, COUNT(*) AS n, "
        "MAX(max_response_time_95_ms) AS worst, "
        "MIN(min_response_time_95_ms) AS best FROM excel_rows "
        "GROUP BY substr(service_name, 5, 4) ORDER BY svc",
        f"SELECT a.service_name AS a_name, b.service_name AS b_name, "
        f"a.count AS shared_count FROM excel_rows a JOIN excel_rows b "
        f"ON a.count = b.count AND a.service_name < b.service_name "
        f"WHERE a.count BETWEEN {a} AND {a + 3000} "
        f"ORDER BY a_name, b_name LIMIT {k}",
        f"SELECT service_name, count, RANK() OVER (ORDER BY count DESC) "
        f"AS rnk FROM excel_rows WHERE count >= {a} "
        f"ORDER BY rnk, service_name LIMIT {k}",
        "SELECT svc, service_name, rn FROM (SELECT substr(service_name, 5, 4) "
        "AS svc, service_name, ROW_NUMBER() OVER (PARTITION BY "
        "substr(service_name, 5, 4) ORDER BY max_response_time_95_ms DESC, "
        "service_name) AS rn FROM excel_rows) t WHERE rn <= 3 "
        "ORDER BY svc, rn",
        f"SELECT service_name FROM excel_rows WHERE count < {a // 20} {op} "
        f"SELECT service_name FROM excel_rows "
        f"WHERE max_response_time_95_ms > {20_000 + a // 20} "
        f"ORDER BY service_name LIMIT {k}",
        f"SELECT COUNT(*) AS n, SUM(count) AS total_count, "
        f"MIN(min_response_time_95_ms) AS best, "
        f"MAX(max_response_time_95_ms) AS worst FROM excel_rows "
        f"WHERE count > {a}",
    ]


def _export(rng: random.Random, i: int) -> str:
    if i % 3 == 0:      # the whole table, past the display cap
        return "SELECT * FROM excel_rows ORDER BY service_name"
    a = rng.randint(0, 80_000)
    width = (20, 2000, 20_000)[i % 3]
    return (f"SELECT service_name, count, max_response_time_95_ms "
            f"FROM excel_rows WHERE count BETWEEN {a} AND {a + width} "
            f"ORDER BY service_name")


def _dml(rng: random.Random, i: int) -> str:
    kind = i % 3
    if kind == 0:
        rows = ", ".join(
            f"('ent_new_{i:03d}_{j}', {rng.randint(500, 2_000_000) / 100}, "
            f"{rng.randint(0, 100_000)}, {rng.randint(500, 2_500_000) / 100}, "
            f"{rng.randint(0, 50_000) / 100})"
            for j in range(2))
        return f"INSERT INTO excel_rows VALUES {rows}"
    if kind == 1:
        if i % 2:
            return (f"UPDATE excel_rows SET count = count + "
                    f"{rng.randint(1, 9)} WHERE service_name LIKE "
                    f"'ent_{rng.choice(_WORDS)}%'")
        a = rng.randint(0, 95_000)
        return (f"UPDATE excel_rows SET max_response_time_95_ms = "
                f"max_response_time_95_ms + 1.5 "
                f"WHERE count BETWEEN {a} AND {a + 5000}")
    return (f"DELETE FROM excel_rows WHERE count % {rng.choice((89, 97, 101))} "
            f"= {rng.randint(0, 88)}")


_N_SHAPES = 11


def generate(seed: int, names: list[str]) -> list[Line]:
    """One script: N_READS reads, N_EXPORTS exports and N_DML DML lines,
    interleaved in a fixed order."""
    rng = random.Random(seed)
    lines = [Line("read", _reads(rng, names)[i % _N_SHAPES])
             for i in range(N_READS)]
    lines += [Line("export", _export(rng, i)) for i in range(N_EXPORTS)]
    lines += [Line("dml", _dml(rng, i)) for i in range(N_DML)]
    head, rest = lines[0], lines[1:]
    random.Random(0).shuffle(rest)
    return [head] + rest
