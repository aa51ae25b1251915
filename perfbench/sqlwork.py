"""Seeded query stream for the ``sql_interactive`` workload.

A *burst* is one freshly generated table map plus the five queries that
run against it; the next burst regenerates the map. Four of the five
queries read the in-memory tables (nested arrays and structs, a mixed-type
"dynamic" column, a dotted table name); one reads the parquet tables
through path sources. Every template carries its reference-dialect SQL,
which goes through ``engine.execute_sql``, and a DuckDB equivalent over the
same data, which the output check runs.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import pyarrow as pa

_FIRST = ["alice", "Albert", "ALINA", "bob", "Bianca", "BORIS", "carol",
          "Cyrus", "dana", "Dmitri", "EVE", "ezra", "fatima", "Felix"]
_CITIES = ["NYC", "LA", "SF", "Austin", "Boston", "Denver"]
_TAGS = ["red", "green", "blue", "fast", "slow", "new", "old", "big"]
_KINDS = ["open", "click", "close", "error"]
BURST = 5
ROUND = 2   # bursts per round: 8 memory + 2 parquet templates, each once
# Row-count strata of a burst's tables: each round has one small and one
# large burst, so runs on different seeds carry the same size mix.
SIZE_STRATA = ((50, 300), (300, 2000))


@dataclass
class Query:
    template: str
    sql: str
    duck_sql: str
    tables: dict
    like_mode: str = "ansi"
    strict: bool = False


@dataclass
class Burst:
    memory: dict                       # table name -> list of row dicts
    duck: dict                         # table name -> pyarrow table
    queries: list = field(default_factory=list)


def _people(rng: random.Random, n: int) -> list[dict]:
    rows = []
    for i in range(n):
        r = rng.random()
        # dynamic column: JS numbers, numeric-looking strings and words
        dyn = rng.randint(0, 500) if r < 0.7 else (
            str(rng.randint(0, 9)) if r < 0.85 else rng.choice(_TAGS))
        rows.append({
            "id": i,
            "name": f"{rng.choice(_FIRST)}_{rng.randint(0, 999)}",
            "age": rng.randint(18, 80),
            "city": rng.choice(_CITIES),
            "active": rng.random() < 0.6,
            "tags": rng.sample(_TAGS, rng.randint(1, 4)),
            "address": {"city": rng.choice(_CITIES),
                        "zip": rng.randint(10000, 99999)},
            "props": json.dumps({k: rng.randint(0, 99)
                                 for k in rng.sample("abcdef", rng.randint(1, 3))}),
            "dyn": dyn,
        })
    return rows


def _orders(rng: random.Random, n: int, n_people: int) -> list[dict]:
    return [{
        "id": i,
        "user_id": rng.randint(0, n_people + n_people // 10),
        "amount": rng.randint(1, 2000),
        "qty": [rng.randint(1, 9) for _ in range(rng.randint(1, 5))],
    } for i in range(n)]


def _events(rng: random.Random, n: int) -> list[dict]:
    return [{"id": i, "kind": rng.choice(_KINDS), "ms": rng.randint(1, 10_000)}
            for i in range(n)]


def _duck_tables(memory: dict) -> dict:
    people = memory["people"]
    return {
        "people": pa.Table.from_pylist(
            [{**r, "dyn": json.dumps(r["dyn"])} for r in people],
            schema=pa.schema([
                ("id", pa.int64()), ("name", pa.string()),
                ("age", pa.int64()), ("city", pa.string()),
                ("active", pa.bool_()), ("tags", pa.list_(pa.string())),
                ("address", pa.struct([("city", pa.string()),
                                       ("zip", pa.int64())])),
                ("props", pa.string()), ("dyn", pa.string()),
            ])),
        "purchases": pa.Table.from_pylist(memory["purchases"], schema=pa.schema([
            ("id", pa.int64()), ("user_id", pa.int64()),
            ("amount", pa.int64()), ("qty", pa.list_(pa.int64())),
        ])),
        "events.log": pa.Table.from_pylist(memory["events.log"], schema=pa.schema([
            ("id", pa.int64()), ("kind", pa.string()), ("ms", pa.int64()),
        ])),
    }


# Each template ``_t_<name>``: rng -> (reference SQL, DuckDB SQL, like_mode).
def _t_group_having_dotted(rng):
    k = rng.randint(1, 300)
    return ('SELECT kind, COUNT(*) AS n, SUM(ms) AS total_ms FROM "events.log" '
            f"GROUP BY kind HAVING COUNT(*) > {k}",
            "SELECT kind, COUNT(*) AS n, CAST(SUM(ms) AS BIGINT) AS total_ms "
            f'FROM "events.log" GROUP BY kind HAVING COUNT(*) > {k}', "ansi")


def _t_join(rng):
    a = rng.randint(0, 1500)
    return ("SELECT p.name, o.id AS order_id, o.amount FROM people p "
            f"JOIN purchases o ON p.id = o.user_id WHERE o.amount > {a}",
            "SELECT p.name, o.id AS order_id, o.amount FROM people p "
            f"JOIN purchases o ON p.id = o.user_id WHERE o.amount > {a}", "ansi")


def _t_positional_join(rng):
    sql = ("SELECT people.id, people.city, purchases.amount "
           "FROM people POSITIONAL JOIN purchases")
    return sql, sql, "ansi"


def _t_json_each(rng):
    x = rng.randint(18, 70)
    return ("SELECT p.id, j.key, j.value FROM people p "
            f"JOIN JSON_EACH(p.props) AS j ON TRUE WHERE p.age > {x}",
            "SELECT p.id, j.key, CAST(json_extract(p.props, '$.' || j.key) "
            "AS VARCHAR) AS value FROM people p, "
            f"UNNEST(json_keys(p.props)) AS j(key) WHERE p.age > {x}", "ansi")


def _t_unnest(rng):
    return ("SELECT p.id, u.tag FROM people p JOIN UNNEST(p.tags) AS u(tag) "
            "ON TRUE WHERE p.active",
            "SELECT p.id, u.tag FROM people p, UNNEST(p.tags) AS u(tag) "
            "WHERE p.active", "ansi")


def _t_subscript_bigint(rng):
    # reference subscripts are 0-based, DuckDB's 1-based
    lo = rng.randint(18, 60)
    hi = lo + rng.randint(5, 20)
    c = rng.randint(1, 10**6)
    return ("SELECT id, tags[0] AS first_tag, address.city AS home, "
            f"id * 1000n + {c}n AS big FROM people "
            f"WHERE age BETWEEN {lo}n AND {hi}n",
            "SELECT id, tags[1] AS first_tag, address.city AS home, "
            f"id * 1000 + {c} AS big FROM people WHERE age BETWEEN {lo} AND {hi}",
            "ansi")


def _t_window_row_number(rng):
    sql = ("SELECT id, city, age, ROW_NUMBER() OVER "
           "(PARTITION BY city ORDER BY age DESC, id) AS rn FROM people")
    return sql, sql, "ansi"


def _t_dynamic_like_ci(rng):
    # dynamic columns hold JSON text; SUM adds numbers and numeric text
    # and skips every other member. LIKE runs case-insensitive.
    prefix = rng.choice(["al", "B", "cA", "d", "E", "f"])
    return ("SELECT city, SUM(dyn) AS s, COUNT(*) AS n FROM people "
            f"WHERE name LIKE '{prefix}%' GROUP BY city",
            "SELECT city, SUM(TRY_CAST(json_extract_string(dyn, '$') "
            "AS DOUBLE)) AS s, COUNT(*) AS n FROM people "
            f"WHERE name ILIKE '{prefix}%' GROUP BY city", "ci")


MEMORY_TEMPLATES = [
    _t_group_having_dotted, _t_join, _t_positional_join, _t_json_each,
    _t_unnest, _t_subscript_bigint, _t_window_row_number, _t_dynamic_like_ci,
]


def _t_parquet_group(rng):
    k = rng.randint(1000, 20000)
    return ("SELECT l_orderkey, COUNT(*) AS n, SUM(l_quantity) AS qty "
            f"FROM lineitem WHERE l_orderkey < {k} GROUP BY l_orderkey",
            "SELECT l_orderkey, COUNT(*) AS n, SUM(l_quantity) AS qty "
            f"FROM lineitem WHERE l_orderkey < {k} GROUP BY l_orderkey",
            "ansi")


def _t_parquet_join(rng):
    k = rng.randint(1000, 20000)
    sql = ("SELECT o.o_orderkey, c.c_mktsegment, o.o_totalprice FROM orders o "
           f"JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderkey < {k}")
    return sql, sql, "ansi"


PARQUET_TEMPLATES = [_t_parquet_group, _t_parquet_join]
PARQUET_TABLES = ("lineitem", "orders", "customer")
TEMPLATE_NAMES = [t.__name__[3:] for t in MEMORY_TEMPLATES + PARQUET_TEMPLATES]
# Templates that always run with strict=True: one query in five.
STRICT = {"group_having_dotted", "parquet_join"}


def _cycle(rng: random.Random, items: list):
    """Seeded round-robin: every template once per shuffled round, so each
    run covers the templates evenly whatever its seed."""
    while True:
        order = list(items)
        rng.shuffle(order)
        yield from order


def bursts(seed, sf_dir: str, strata=SIZE_STRATA):
    """Endless seeded stream of bursts. Every ``ROUND`` bursts run each
    template exactly once, in a seeded order."""
    rng = random.Random(seed)
    memory_templates = _cycle(rng, MEMORY_TEMPLATES)
    parquet_templates = _cycle(rng, PARQUET_TEMPLATES)
    paths = {t: f"{sf_dir}/{t}.parquet" for t in PARQUET_TABLES}
    strata = _cycle(rng, strata)
    while True:
        lo, hi = next(strata)
        n, n_orders, n_events = (rng.randint(lo, hi) for _ in range(3))
        memory = {
            "people": _people(rng, n),
            "purchases": _orders(rng, n_orders, n),
            "events.log": _events(rng, n_events),
        }
        burst = Burst(memory, _duck_tables(memory))
        parquet_slot = rng.randrange(BURST)
        for i in range(BURST):
            template, tables = (
                (next(parquet_templates), paths) if i == parquet_slot
                else (next(memory_templates), memory))
            name = template.__name__[3:]
            sql, duck, like = template(rng)
            burst.queries.append(
                Query(name, sql, duck, tables, like, name in STRICT))
        yield burst
