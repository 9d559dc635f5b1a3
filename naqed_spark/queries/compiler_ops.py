"""E1 QuerySpec compiler surface — driver-checked keys (SURVEY.md §3.2).

Round 6 completes the naqed-translation table: ``$window``/``$qualify``
(compiler_window_rank), ``$offset`` pagination (compiler_pagination),
and the full-chain integration case (compiler_composite_topk) join the
round-4 features below.

Round 4 extended the naqed-style query object with the two spec features
VERDICT r3 called out as missing vs the naqed model translation:

- ``$select`` computed/derived columns — an arity-checked expression DSL
  (arith/string/date ops over fields and literals) compiled to Catalyst
  Column trees, available to $groupby/$agg/$orderby like any field;
- ``$collect`` re-nest — naqed's array-of-children shape: instead of the
  default relational fan-out (one row per related entity), the child rows
  are re-nested into one sorted array per parent row.

Scale notes: $select stays whole-stage-codegen (pure Column expressions,
no Python); $collect aggregates the CHILD side on its join key BEFORE the
join, so the shuffle carries one array row per parent key, and the join
itself is a plain equi-join AQE can re-plan.
"""

from __future__ import annotations

from naqed_spark.registry import query


@query(
    "compiler_select_computed",
    # computed columns only touch codegen-safe expressions (string concat,
    # length, year, double*2 — exact in IEEE754), so both engines emit
    # bit-identical values with no float-rounding discipline needed.
    oracle="""
    SELECT o_orderkey,
           lower(o_orderpriority) || '/' || o_orderstatus AS prio_tag,
           CAST(length(o_orderpriority) AS INT) AS prio_len,
           CAST(year(o_orderdate) AS INT) AS order_year,
           o_totalprice * 2 AS double_price
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def compiler_select_computed(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "F"},
                "o_orderkey": True,
                "$select": {
                    "prio_tag": {
                        "$concat": [
                            {"$lower": "o_orderpriority"},
                            {"$lit": "/"},
                            "o_orderstatus",
                        ]
                    },
                    "prio_len": {"$length": "o_orderpriority"},
                    "order_year": {"$year": "o_orderdate"},
                    "double_price": {"$mul": ["o_totalprice", 2]},
                },
            }
        }
    )


@query(
    "compiler_window_rank",
    # $window + $qualify (round 6, VERDICT r4 item 4 — the last
    # naqed-translation capability without an E1 spelling): top-3 F-status
    # orders per customer by price with the customer's total alongside.
    # row_number is made deterministic by the (price DESC, orderkey ASC)
    # tiebreak; the windowed money sum runs in exact DECIMAL inside the
    # frame and is emitted as double (§7.3), so both engines agree
    # bit-for-bit. DuckDB's QUALIFY is the oracle twin of $qualify.
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER w AS INT) AS rk,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_total
    FROM orders
    WHERE o_orderstatus = 'F'
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    QUALIFY rk <= 3
    """,
)
def compiler_window_rank(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "F"},
                "o_custkey": True,
                "o_orderkey": True,
                "o_totalprice": True,
                "$window": {
                    "rk": {
                        "$row_number": {
                            "$partition": ["o_custkey"],
                            "$order": [
                                ["o_totalprice", "desc"],
                                ["o_orderkey", "asc"],
                            ],
                        }
                    },
                    "cust_total": {
                        "$sum": {
                            "$of": {
                                "$cast": ["o_totalprice", {"$lit": "decimal(12,2)"}]
                            },
                            "$partition": ["o_custkey"],
                        }
                    },
                },
                "$qualify": {"rk": {"$lte": 3}},
            }
        }
    )


@query(
    "compiler_collect_nested",
    # $collect re-nest: one row per BUILDING customer, non-'P' orders as a
    # sorted array (childless customers get [], not NULL — naqed returns
    # an empty child array), plus a $select over the collected array.
    # The oracle COALESCEs the SERIALIZED string (not the list): DuckDB
    # 1.0's array_to_string([]) returns NULL, so coalescing the list to []
    # still emitted NULL where Spark emits '' — invisible at sf0.001
    # (no childless BUILDING customer) but a value mismatch at sf0.01.
    # The E1 `$collect` API hands users a REAL array column; this
    # driver-facing query serializes it with $array_join because the
    # driver's canonicalizer (pandas sort over all columns) cannot sort
    # collection cells — the repo-wide §7.3 discipline every other green
    # collection key follows (agg_collect_set emits array_join, aggs.py).
    # CORRECTNESS_r04 ERR + VERDICT r4 item 1.
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COALESCE(
             array_to_string(
               list_sort(list(o.o_orderkey)
                         FILTER (WHERE o.o_orderkey IS NOT NULL)),
               ','),
             '') AS orders,
           CAST(count(o.o_orderkey) AS INT) AS n_orders
    FROM customer c
    LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey AND o.o_orderstatus <> 'P'
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY c.c_custkey, c.c_name
    """,
)
def compiler_collect_nested(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$filter": {"c_mktsegment": "BUILDING"},
                "c_custkey": True,
                "c_name": True,
                "orders": {
                    "$collect": True,
                    "$filter": {"o_orderstatus": {"$ne": "P"}},
                    "o_orderkey": True,
                },
                # n_orders first ($size needs the array), then the in-place
                # serialization — $select entries apply in request order
                "$select": {
                    "n_orders": {"$size": "orders"},
                    "orders": {"$array_join": ["orders", {"$lit": ","}]},
                },
            }
        }
    )


@query(
    "compiler_pagination",
    # $offset + $limit pagination (round 6): page 3 of orders by price.
    # Deterministic because the parser REQUIRES $orderby with $offset and
    # the order carries the unique-key tiebreak (§7.3).
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20 OFFSET 40
    """,
)
def compiler_pagination(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "o_orderkey": True,
                "o_custkey": True,
                "o_totalprice": True,
                "$orderby": [["o_totalprice", "desc"], ["o_orderkey", "asc"]],
                "$offset": 40,
                "$limit": 20,
            }
        }
    )


@query(
    "compiler_composite_topk",
    # The full E1 pipeline in one spec: relationship hop (customer →
    # orders, child-filtered), $groupby + $agg over the fan-out, a
    # $window RANKING THE AGGREGATED rows (windows compile after $agg —
    # SQL ordering), $qualify top-2 per nation, deterministic $orderby.
    # All-integer measures (counts/ranks) — no float discipline needed.
    oracle="""
    SELECT c_nationkey, c_custkey, n_orders, rk FROM (
      SELECT c.c_nationkey, c.c_custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(rank() OVER (PARTITION BY c.c_nationkey
                               ORDER BY count(*) DESC, c.c_custkey)
                  AS INT) AS rk
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_acctbal > 0 AND o.o_orderstatus = 'F'
      GROUP BY c.c_nationkey, c.c_custkey
    )
    WHERE rk <= 2
    ORDER BY c_nationkey, rk, c_custkey
    """,
)
def compiler_composite_topk(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$filter": {"c_acctbal": {"$gt": 0.0}},
                "orders": {"$filter": {"o_orderstatus": "F"}},
                "$groupby": ["c_nationkey", "c_custkey"],
                "$agg": {"n_orders": {"$count": True}},
                "$window": {
                    "rk": {
                        "$rank": {
                            "$partition": ["c_nationkey"],
                            "$order": [
                                ["n_orders", "desc"],
                                ["c_custkey", "asc"],
                            ],
                        }
                    }
                },
                "$qualify": {"rk": {"$lte": 2}},
                "$orderby": [
                    ["c_nationkey", "asc"],
                    ["rk", "asc"],
                    ["c_custkey", "asc"],
                ],
            }
        }
    )


@query(
    "compiler_set_ops",
    # Round 7 (VERDICT r6 item 6): E1 set operators. (BUILDING customers
    # UNION high-balance customers) EXCEPT low-nationkey customers —
    # nested set specs, SQL DISTINCT semantics, outer $orderby applied
    # after the combine. All emitted columns are key/string — no float
    # discipline needed. Scale shape: the union is a zero-shuffle concat;
    # the DISTINCT/EXCEPT steps are one full-row shuffle each, which AQE
    # sizes; nothing here is driver-side.
    oracle="""
    (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
     UNION
     SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000.0)
    EXCEPT
    SELECT c_custkey, c_name FROM customer WHERE c_nationkey IN (1, 2, 3)
    """,
)
def compiler_set_ops(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "$except": [
                {
                    "$union": [
                        {
                            "customer": {
                                "$filter": {"c_mktsegment": "BUILDING"},
                                "c_custkey": True,
                                "c_name": True,
                            }
                        },
                        {
                            "customer": {
                                "$filter": {"c_acctbal": {"$gt": 9000.0}},
                                "c_custkey": True,
                                "c_name": True,
                            }
                        },
                    ]
                },
                {
                    "customer": {
                        "$filter": {"c_nationkey": {"$in": [1, 2, 3]}},
                        "c_custkey": True,
                        "c_name": True,
                    }
                },
            ]
        }
    )


@query(
    "compiler_exists_child",
    # Round 7 (VERDICT r6 item 6): EXISTS child predicate — BUILDING
    # customers having at least one order above 200k. $exists: true is
    # sugar for $how: left_semi; the child $filter makes it the
    # IN-subquery shape too (custkey IN (SELECT o_custkey FROM orders
    # WHERE ...)). Compiles to ONE left-semi equi-join — at 100 TB the
    # filtered order-key side is aggregated by the semi join itself, no
    # fan-out rows ever materialize, and AQE can broadcast the small side.
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE c_mktsegment = 'BUILDING'
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 200000.0)
    """,
)
def compiler_exists_child(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$filter": {"c_mktsegment": "BUILDING"},
                "c_custkey": True,
                "c_name": True,
                "orders": {
                    "$exists": True,
                    "$filter": {"o_totalprice": {"$gt": 200000.0}},
                },
            }
        }
    )


@query(
    "compiler_agg_having",
    # E1 $groupby/$agg/$having driver coverage (round 7): the post-agg
    # predicate path ($having sees agg aliases, never raw columns —
    # engine.py enforces that contract with a typed SpecError). Integer
    # count + raw-double max: no float discipline needed.
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           max(o_totalprice) AS max_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_custkey
    HAVING count(*) >= 8
    """,
)
def compiler_agg_having(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "F"},
                "$groupby": ["o_custkey"],
                "$agg": {
                    "n_orders": {"$count": True},
                    "max_price": {"$max": "o_totalprice"},
                },
                "$having": {"n_orders": {"$gte": 8}},
            }
        }
    )


@query(
    "compiler_params",
    # E1 parameterized query (round 7): {"$arg": name} placeholders bound
    # from a params dict BEFORE parsing (spec.bind_args), so bound values
    # flow through the same shape/type validation as literals and the
    # bound literal reaches the parquet scan as an ordinary pushed
    # filter — a parameterized query plans identically to its literal
    # twin. This is the QuerySpec spelling of naqed resolver arguments
    # (SURVEY §1.1). The $orderby (price, key) is a unique total order so
    # the $limit is deterministic on both engines.
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus IN ('F', 'O') AND o_totalprice > 250000.0
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def compiler_params(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {
                    "o_orderstatus": {"$in": {"$arg": "statuses"}},
                    "o_totalprice": {"$gt": {"$arg": "min_total"}},
                },
                "o_orderkey": True,
                "o_custkey": True,
                "o_totalprice": True,
                "$orderby": [["o_totalprice", "desc"], ["o_orderkey", "asc"]],
                "$limit": {"$arg": "k"},
            }
        },
        params={"statuses": ["F", "O"], "min_total": 250000.0, "k": 25},
    )


@query(
    "compiler_sample",
    # E1 $sample (round 7): the deterministic md5-bucket sample as a spec
    # argument — {"$key", "$keep", "$buckets"} keeps the first k of b
    # buckets of md5(key). Applied at the ROOT SCAN before the customer
    # hop, so the join runs on the reduced row set and the sample of the
    # join is the join of the samples (key-consistent, reproducible,
    # cluster-size-independent — the sample_hash_deterministic discipline;
    # the engine deliberately has no rand() sampling). The oracle spells
    # the identical bucket arithmetic with DuckDB's instr construction.
    oracle="""
    SELECT o_orderkey, o_totalprice, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'O'
      AND ((instr('0123456789abcdef',
                  substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
           + instr('0123456789abcdef',
                   substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)
          % 10 < 3
    """,
)
def compiler_sample(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "O"},
                "$sample": {"$key": "o_orderkey", "$keep": 3, "$buckets": 10},
                "o_orderkey": True,
                "o_totalprice": True,
                "customer": {"c_mktsegment": True},
            }
        }
    )


@query(
    "compiler_distinct_values",
    # E1 $distinct (round 7 driver key for the long-spelled top arg): the
    # distinct combinations of a computed column and a field — compiles to
    # project → HashAggregate (map-side combined), never a sort.
    oracle="""
    SELECT DISTINCT c_mktsegment, (c_nationkey % 5) AS nk_mod
    FROM customer
    """,
)
def compiler_distinct_values(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "c_mktsegment": True,
                "$select": {"nk_mod": {"$mod": ["c_nationkey", {"$lit": 5}]}},
                "$distinct": True,
            }
        }
    )


@query(
    "compiler_conditional",
    # E1 $if conditional expression (round 7): CASE WHEN as a spec node —
    # [$filter-style condition, then, else], nestable in the else branch
    # for multi-way bands. Conditions reuse the predicate DSL (and its
    # typed-error validation); the whole expression compiles to one
    # Catalyst CaseWhen — pure codegen, evaluated in the same projection
    # as the requested fields, no extra pass.
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_totalprice > 250000.0 THEN 'high'
                WHEN o_totalprice > 100000.0 THEN 'mid'
                ELSE 'low' END AS band
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def compiler_conditional(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "F"},
                "o_orderkey": True,
                "o_totalprice": True,
                "$select": {
                    "band": {
                        "$if": [
                            {"o_totalprice": {"$gt": 250000.0}},
                            {"$lit": "high"},
                            {
                                "$if": [
                                    {"o_totalprice": {"$gt": 100000.0}},
                                    {"$lit": "mid"},
                                    {"$lit": "low"},
                                ]
                            },
                        ]
                    }
                },
            }
        }
    )


@query(
    "compiler_child_rollup",
    # E1 aggregation grouped on a RELATIONSHIP field (round 7): the
    # naqed traversal (orders → customer) feeding $groupby on the child's
    # column — grouping by a joined attribute is the star-schema rollup
    # in spec form. Money goes through the $select expression DSL as
    # exact integer cents ($mul → $round → $cast bigint) BEFORE $sum, so
    # the aggregate is order-independent (the §7.3 decimal discipline,
    # spelled entirely in E1). Plan: broadcast-eligible child join, then
    # one map-side-combined hash aggregate on the child key.
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY c.c_mktsegment
    """,
)
def compiler_child_rollup(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "O"},
                "customer": {"c_mktsegment": True},
                "$select": {
                    "cents": {
                        "$cast": [
                            {
                                "$round": [
                                    {"$mul": ["o_totalprice", {"$lit": 100}]},
                                    0,
                                ]
                            },
                            {"$lit": "bigint"},
                        ]
                    }
                },
                "$groupby": ["c_mktsegment"],
                "$agg": {
                    "n_orders": {"$count": True},
                    "total_cents": {"$sum": "cents"},
                },
            }
        }
    )


@query(
    "compiler_deep_traversal",
    # E1 three-level traversal (round 7) — the naqed identity shape at
    # depth: region → nations → customers, a $filter at every level,
    # relational fan-out at each many-hop (SURVEY §1.2's array auto-map
    # translation). Compiles to two equi-joins: the region and nation
    # hops broadcast (SMALL_DIMS policy), customer stays AQE's call —
    # the deep spec costs exactly what the hand-written join chain
    # costs.
    oracle="""
    SELECT r.r_name, n.n_name, c.c_name, c.c_acctbal
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE r.r_name IN ('ASIA', 'EUROPE') AND c.c_acctbal > 9000.0
    """,
)
def compiler_deep_traversal(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "region": {
                "$filter": {"r_name": {"$in": ["ASIA", "EUROPE"]}},
                "r_name": True,
                "nations": {
                    "n_name": True,
                    "customers": {
                        "$filter": {"c_acctbal": {"$gt": 9000.0}},
                        "c_name": True,
                        "c_acctbal": True,
                    },
                },
            }
        }
    )


@query(
    "compiler_orderby_computed",
    # E1 $orderby over a $select-computed alias (round 7): computed
    # columns land before ordering, so a spec can rank by a derived
    # expression — here a deterministic md5 shuffle key with the row key
    # as tiebreak (the reproducible-shuffle idiom in spec form). The
    # plan is TakeOrderedAndProject over a codegen projection — the
    # $limit prevents a global sort.
    oracle="""
    SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS shuffle_key
    FROM orders
    WHERE o_orderstatus = 'P'
    ORDER BY shuffle_key ASC, o_orderkey ASC
    LIMIT 50
    """,
)
def compiler_orderby_computed(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "P"},
                "o_orderkey": True,
                "$select": {
                    "shuffle_key": {
                        "$md5": [
                            {"$cast": ["o_orderkey", {"$lit": "string"}]}
                        ]
                    }
                },
                "$orderby": [
                    ["shuffle_key", "asc"],
                    ["o_orderkey", "asc"],
                ],
                "$limit": 50,
            }
        }
    )


@query(
    "compiler_multi_child",
    # E1 sibling-hop composition (round 7): ONE root with TWO
    # relationship children — a to-one hop (customer, fields flatten in)
    # and a $collect hop (lineitems re-nested as a sorted array,
    # serialized via $array_join per §7.3) — the "diamond" every real
    # naqed query tree has. Compiles to one broadcast-eligible equi-join
    # plus one pre-aggregated array join; the hops are independent, so
    # Catalyst orders them freely. n_items is count(l_linestatus), not
    # count(*): $size measures the COLLECTED array, and both engines'
    # collectors (collect_list / string_agg) skip NULL field values.
    oracle="""
    SELECT o.o_orderkey, c.c_mktsegment,
           (SELECT count(l.l_linestatus) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey) AS n_items,

           (SELECT coalesce(string_agg(l.l_linestatus,
                                       ',' ORDER BY l.l_linestatus), '')
            FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
             AS lineitems
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'P'
    """,
)
def compiler_multi_child(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "P"},
                "o_orderkey": True,
                "customer": {"c_mktsegment": True},
                "lineitems": {"$collect": True, "l_linestatus": True},
                # n_items first ($size needs the array), then the in-place
                # §7.3 serialization (the compiler_collect_nested idiom)
                "$select": {
                    "n_items": {"$size": "lineitems"},
                    "lineitems": {
                        "$array_join": ["lineitems", {"$lit": ","}]
                    },
                },
            }
        }
    )


@query(
    "compiler_filter_or",
    # E1 $or disjunction (round 7): {"$or": [branch, ...]} — AND within a
    # branch, OR across branches, nestable — closing the last boolean
    # gap in the $filter DSL (it was conjunction-only). The whole
    # disjunction compiles to ONE Catalyst Or tree inside a single
    # Filter, so it is pushdown-eligible like any predicate; branch
    # predicates go through the same type checks as top-level ones.
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'P'
       OR (o_totalprice > 300000.0 AND o_orderpriority = '1-URGENT')
    """,
)
def compiler_filter_or(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {
                    "$or": [
                        {"o_orderstatus": "P"},
                        {
                            "o_totalprice": {"$gt": 300000.0},
                            "o_orderpriority": "1-URGENT",
                        },
                    ]
                },
                "o_orderkey": True,
                "o_orderstatus": True,
                "o_totalprice": True,
            }
        }
    )


@query(
    "compiler_json_field",
    # $json accessor (round 8): naqed resolves custom/JSON-typed fields
    # through resolvers; the E1 spelling is a $select op extracting a
    # JSONPath from a JSON string column, then grouping on the extracted
    # value like any field. NULL-on-missing matches on both engines
    # (get_json_object ≡ json_extract_string).
    oracle="""
    SELECT json_extract_string(props, '$.k') AS k,
           count(*) AS n,
           count(DISTINCT user_id) AS users
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1 ORDER BY k
    """,
)
def compiler_json_field(spark, sf_dir):
    """The extraction is one codegen expression evaluated in the scan
    stage (no UDF, no parse-twice); grouping shuffles the extracted key
    exactly like a physical column. At 100 TB: prefer promoting hot JSON
    fields to VARIANT/columns at ingest — this op is the ad-hoc path."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "events": {
                "$filter": {"event_type": "click"},
                "$select": {"k": {"$json": ["props", {"$lit": "$.k"}]}},
                "$groupby": ["k"],
                "$agg": {
                    "n": {"$count": True},
                    "users": {"$count_distinct": "user_id"},
                },
                "$orderby": ["k"],
            }
        }
    )


@query(
    "compiler_agg_minmax_by",
    # $min_by/$max_by (round 8): per-group argmin/argmax as a first-class
    # E1 aggregate — "the name of the newest/oldest customer per nation"
    # without a window + qualify round trip. Ordering columns here are
    # UNIQUE keys (c_custkey), the determinism contract the parser
    # documents; SQL twins are DuckDB's arg_min/arg_max.
    oracle="""
    SELECT c_nationkey,
           count(*) AS n_cust,
           arg_max(c_name, c_custkey) AS newest_cust,
           arg_min(c_name, c_custkey) AS oldest_cust
    FROM customer
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def compiler_agg_minmax_by(spark, sf_dir):
    """min_by/max_by are single-pass hash aggregates (value+ordering pair
    per group in the partial state) — the 100 TB win over the
    window-rank-filter spelling is no sort and no second pass."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$groupby": ["c_nationkey"],
                "$agg": {
                    "n_cust": {"$count": True},
                    "newest_cust": {"$max_by": ["c_name", "c_custkey"]},
                    "oldest_cust": {"$min_by": ["c_name", "c_custkey"]},
                },
                "$orderby": ["c_nationkey"],
            }
        }
    )


@query(
    "compiler_q3_full",
    # Round 8: a COMPLETE TPC-H query (Q3 shipping priority) expressed
    # in the E1 QuerySpec DSL — filter + two relationship hops + exact
    # decimal $select arithmetic + $agg + the new $derive (post-agg
    # computed columns) casting the decimal sum to double at the
    # emission boundary + ordered top-10. The parity proof that a naqed
    # user's query DSL reaches real decision-support shape, with the
    # same determinism discipline as the hand-built join_q3 key.
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY 1, 2
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def compiler_q3_full(spark, sf_dir):
    """Compiles to the same plan family as join_q3_shipping_priority:
    hop joins AQE-sized after their pushdown-eligible filters, one
    partial+final revenue aggregate, TakeOrderedAndProject top-10."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$filter": {"c_mktsegment": "BUILDING"},
                "orders": {
                    "$filter": {"o_orderdate": {"$lt": "1996-07-01"}},
                    "o_orderkey": True,
                    "o_orderpriority": True,
                    "lineitems": {
                        "$filter": {"l_shipdate": {"$gt": "1996-07-01"}},
                    },
                },
                "$select": {
                    "rev_dec": {
                        "$mul": [
                            {
                                "$cast": [
                                    "l_extendedprice",
                                    {"$lit": "decimal(12,2)"},
                                ]
                            },
                            {
                                "$sub": [
                                    1,
                                    {
                                        "$cast": [
                                            "l_discount",
                                            {"$lit": "decimal(4,2)"},
                                        ]
                                    },
                                ]
                            },
                        ]
                    },
                },
                "$groupby": ["o_orderkey", "o_orderpriority"],
                "$agg": {"revenue": {"$sum": "rev_dec"}},
                "$derive": {
                    "revenue": {"$cast": ["revenue", {"$lit": "double"}]}
                },
                "$orderby": [["revenue", "desc"], ["o_orderkey", "asc"]],
                "$limit": 10,
            }
        }
    )


@query(
    "compiler_q1_full",
    # TPC-H Q1 (pricing summary) in the E1 DSL — the multi-aggregate
    # stress case: three exact-decimal money expressions in $select,
    # five sums + a count in $agg, and $derive finishing the surface
    # (decimal→double casts and the three averages as divisions over
    # agg aliases). With compiler_q3_full this closes the loop: the two
    # canonical TPC-H shapes both run from the naqed-style query dict.
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_charge,
           sum(l_quantity) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def compiler_q1_full(spark, sf_dir):
    """One scan-pushed filter, one partial+final hash aggregate over the
    2x2 flag grid — identical plan family to agg_groupby_hash; every
    money sum stays exact decimal until the $derive boundary."""
    from naqed_spark.compiler.engine import Engine

    dec12 = {"$lit": "decimal(12,2)"}
    dec4 = {"$lit": "decimal(4,2)"}
    price = {"$cast": ["l_extendedprice", dec12]}
    disc1 = {"$sub": [1, {"$cast": ["l_discount", dec4]}]}
    tax1 = {"$add": [1, {"$cast": ["l_tax", dec4]}]}
    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "lineitem": {
                "$filter": {"l_shipdate": {"$lte": "1998-09-01"}},
                "$select": {
                    "price_dec": price,
                    "disc_price_dec": {"$mul": [price, disc1]},
                    "charge_dec": {"$mul": [price, disc1, tax1]},
                },
                "$groupby": ["l_returnflag", "l_linestatus"],
                "$agg": {
                    "sum_qty": {"$sum": "l_quantity"},
                    "sum_base_price": {"$sum": "price_dec"},
                    "sum_disc_price": {"$sum": "disc_price_dec"},
                    "sum_charge": {"$sum": "charge_dec"},
                    "count_order": {"$count": True},
                },
                "$derive": {
                    "sum_base_price": {
                        "$cast": ["sum_base_price", {"$lit": "double"}]
                    },
                    "sum_disc_price": {
                        "$cast": ["sum_disc_price", {"$lit": "double"}]
                    },
                    "sum_charge": {
                        "$cast": ["sum_charge", {"$lit": "double"}]
                    },
                    "avg_qty": {"$div": ["sum_qty", "count_order"]},
                    "avg_price": {
                        "$div": [
                            {"$cast": ["sum_base_price", {"$lit": "double"}]},
                            "count_order",
                        ]
                    },
                },
            }
        }
    )


@query(
    "compiler_q6_full",
    # TPC-H Q6 in the E1 DSL — the pure scan case: three pushdown-
    # eligible $filter predicates (range + between-style pair + bound),
    # one exact-decimal product in $select, one global $agg, one $derive
    # cast. Q1 + Q3 + Q6 from the naqed query dict = the three canonical
    # TPC-H shapes (scan-agg, join-agg-topk, multi-aggregate) all
    # reachable from the reference's own query surface.
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
           AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def compiler_q6_full(spark, sf_dir):
    """Same plan as tpch_q6_revenue_change: every predicate in
    PushedFilters, 4-column read schema, map-side partial aggregate."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "lineitem": {
                "$filter": {
                    "l_shipdate": {"$gte": "1997-01-01", "$lt": "1998-01-01"},
                    "l_discount": {"$between": [0.05, 0.07]},
                    "l_quantity": {"$lt": 24},
                },
                "$select": {
                    "disc_rev": {
                        "$mul": [
                            {
                                "$cast": [
                                    "l_extendedprice",
                                    {"$lit": "decimal(12,2)"},
                                ]
                            },
                            {
                                "$cast": [
                                    "l_discount",
                                    {"$lit": "decimal(4,2)"},
                                ]
                            },
                        ]
                    }
                },
                "$agg": {"revenue": {"$sum": "disc_rev"}},
                "$derive": {
                    "revenue": {"$cast": ["revenue", {"$lit": "double"}]}
                },
            }
        }
    )


@query(
    "compiler_asof_hop",
    # Round-9 $asof temporal hop through the E1 DSL: each event matched
    # to the ONE latest order at-or-before its timestamp per user —
    # the compiler spelling of the registered join_asof key (backward
    # strategy, o_orderkey tiebreak, rank-1 so the hop never fans out).
    # Money rides along unchanged (double passthrough, no arithmetic),
    # so no rounding discipline is needed.
    oracle="""
    SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e JOIN orders o
        ON o.o_custkey = e.user_id
       AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
    ) WHERE rn = 1
    """,
)
def compiler_asof_hop(spark, sf_dir):
    """Same plan family as join_asof (user-key equi-join + per-event
    WindowGroupLimit top-1 — no temporal fan-out materialized; asserted
    by tests/test_compiler.py::test_asof_plan_uses_window_group_limit)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "events": {
                "event_id": True,
                "user_id": True,
                "orders": {
                    "$asof": {
                        "$left_on": "ts",
                        "$right_on": "o_orderdate",
                        "$per": "event_id",
                        "$tiebreak": "o_orderkey",
                    },
                    "o_orderkey": True,
                    "o_totalprice": True,
                },
            }
        }
    )


@query(
    "compiler_window_frame",
    # Round-9 moving-frame windows through the E1 DSL — the last
    # windows-beyond-rank gap (VERDICT r8 item 8): a running exact-
    # decimal total ($frame rows unbounded..current, emitted as double
    # per §7.3), a 3-row moving minimum (exact value pick, no float
    # arithmetic), and $lag with an explicit $default. All three share
    # one (o_custkey)-partitioned sort order, so Catalyst evaluates
    # them in a single Window exchange; o_orderkey makes the order
    # total and deterministic.
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS run_total,
           min(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_min3,
           lag(o_totalprice, 1, CAST(0 AS DOUBLE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_price
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def compiler_window_frame(spark, sf_dir):
    """One hash-partitioned Window over (o_custkey) — never a global
    sort; the decimal running sum stays exact inside the frame and is
    cast to double only at emission, so both engines agree bitwise."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    order = [["o_orderdate", "asc"], ["o_orderkey", "asc"]]
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "F"},
                "o_custkey": True,
                "o_orderkey": True,
                "o_totalprice": True,
                "$window": {
                    "run_total": {
                        "$sum": {
                            "$of": {
                                "$cast": [
                                    "o_totalprice",
                                    {"$lit": "decimal(12,2)"},
                                ]
                            },
                            "$partition": ["o_custkey"],
                            "$order": order,
                            "$frame": ["rows", "unbounded", "current"],
                        }
                    },
                    "mov_min3": {
                        "$min": {
                            "$of": "o_totalprice",
                            "$partition": ["o_custkey"],
                            "$order": order,
                            "$frame": ["rows", -2, "current"],
                        }
                    },
                    "prev_price": {
                        "$lag": {
                            "$of": "o_totalprice",
                            "$partition": ["o_custkey"],
                            "$order": order,
                            "$offset": 1,
                            "$default": 0.0,
                        }
                    },
                },
            }
        }
    )


# ---------------- round 11: the round-10 compiler capability registered
# as driver keys (VERDICT r10 item 3). All three were landed engine-level
# in round 10 with twin-pinned tests; registration waited for the
# verification backlog per the backlog-freeze discipline.


@query(
    "compiler_pivot",
    # $pivot as wide conditional aggregation: one $count column per
    # EXPLICIT event_type value (the parser requires the value list — an
    # implicit pivot costs a distinct discovery pass at 100 TB), cells
    # coalesced to 0 so childless (user, value) pairs match the SQL
    # FILTER-count twin. $derive composes post-pivot (ADVICE r10 medium
    # fix: the derive must ADD a column, not replace the projection) —
    # "engaged" sums two pivoted counts, exact integer arithmetic both
    # engines agree on bitwise. Scale: one expand+partial-agg pass, the
    # shuffle carries 5 longs per user_id, same exchange as $agg.
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS "view",
           CAST(count(*) FILTER (WHERE event_type = 'click')
                + count(*) FILTER (WHERE event_type = 'view')   AS BIGINT) AS engaged
    FROM events
    GROUP BY user_id
    """,
)
def compiler_pivot(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "events": {
                "user_id": True,
                "$groupby": ["user_id"],
                "$pivot": {
                    "$on": "event_type",
                    "$values": ["click", "error", "purchase", "signup", "view"],
                    "$agg": {"$count": True},
                },
                "$derive": {"engaged": {"$add": ["click", "view"]}},
            }
        }
    )


@query(
    "compiler_unpivot",
    # $unpivot back to long form: stack() is a zero-shuffle codegen
    # Generate — each input row emits one (measure, val) row per listed
    # column, measures cast to DOUBLE so the value column has a single
    # type (the agg_unpivot discipline). The status filter reaches the
    # parquet scan as a pushed predicate before the Generate. The UNION
    # ALL oracle is the relational spelling of the same long form.
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS measure,
           CAST(o_totalprice AS DOUBLE) AS val
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, 'o_custkey' AS measure,
           CAST(o_custkey AS DOUBLE) AS val
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def compiler_unpivot(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$filter": {"o_orderstatus": "F"},
                "o_orderkey": True,
                "o_totalprice": True,
                "o_custkey": True,
                "$unpivot": {
                    "$cols": ["o_totalprice", "o_custkey"],
                    "$name": "measure",
                    "$value": "val",
                },
            }
        }
    )


@query(
    "compiler_sample_stratified",
    # Stratified $sample: the $keep md5-ranked rows PER c_mktsegment
    # stratum — equal counts regardless of stratum skew (the
    # sample_stratified_hash discipline), deterministic across engines
    # because both rank by md5(cast(key as string)) with the key
    # tiebreak. NULL-$key rows are EXCLUDED in both spellings (ADVICE
    # r10 + round-11 review: md5(NULL) is NULL, so NULL keys would
    # either win every stratum under nulls-first order or sit fully
    # TIED under nulls-last — which of them survives would be a
    # partition-luck pick; a keyless row has no place in an
    # md5-of-key-deterministic sample; bucket mode drops them the same
    # way). Scale: rn <= k over a partitioned rank plans as
    # WindowGroupLimit — each input partition keeps its local top-k
    # per stratum BEFORE the exchange, so the shuffle carries
    # O(k x strata x partitions) rows.
    oracle="""
    SELECT c_custkey, c_mktsegment, c_nationkey
    FROM (
      SELECT c_custkey, c_mktsegment, c_nationkey,
             row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
      FROM customer WHERE c_custkey IS NOT NULL) t
    WHERE rn <= 7
    """,
)
def compiler_sample_stratified(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$sample": {
                    "$key": "c_custkey",
                    "$keep": 7,
                    "$per": "c_mktsegment",
                },
                "c_custkey": True,
                "c_mktsegment": True,
                "c_nationkey": True,
            }
        }
    )


# ---------------- round 12: the round-11 $asof extensions and the new
# subtotal-grid spellings registered as driver keys (VERDICT r11 items
# 2-3).


@query(
    "compiler_asof_nearest",
    # $strategy "nearest" through the E1 DSL: each event matched to the
    # ONE order closest in time in EITHER direction per event — rank by
    # |Δt|, then earlier order date, then the unique o_orderkey
    # tiebreak (the join_asof_nearest contract). The ordering columns
    # are a MIXED temporal pair (events.ts timestamp, orders date):
    # both lower to epoch MICROSECONDS (unix_micros / unix_date — the
    # ADVICE r11 date-lowering fix this key exercises end-to-end), so
    # the distance is integer µs on both engines. NULL ordering values
    # never match (isNotNull conjuncts in the join condition — the
    # three-strategy shared null contract).
    oracle="""
    SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)),
                        o.o_orderdate, o.o_orderkey) AS rn
      FROM events e JOIN orders o
        ON o.o_custkey = e.user_id
       AND e.ts IS NOT NULL AND o.o_orderdate IS NOT NULL
    ) t WHERE rn = 1
    """,
)
def compiler_asof_nearest(spark, sf_dir):
    """Same plan family as join_asof_nearest (user-key equi-join +
    per-event WindowGroupLimit top-1 — the |Δt| rank never materializes
    the temporal fan-out; pinned by tests/test_compiler.py::
    test_asof_plan_uses_window_group_limit on the shared hop path)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "events": {
                "event_id": True,
                "user_id": True,
                "orders": {
                    "$asof": {
                        "$left_on": "ts",
                        "$right_on": "o_orderdate",
                        "$per": "event_id",
                        "$tiebreak": "o_orderkey",
                        "$strategy": "nearest",
                    },
                    "o_orderkey": True,
                    "o_orderdate": True,
                },
            }
        }
    )


# 8400 days in µs: the fixtures put events in 2024 and orders in
# 1995-2001, so the per-event backward staleness sits around 8200-9100
# days — this bound lands mid-distribution, leaving a real mix of
# fresh (matched) and stale (NULL) events at every test SF.
_ASOF_TOL_US = 8400 * 86_400_000_000


@query(
    "compiler_asof_tolerance",
    # $tolerance + $how "left" through the E1 DSL — the registered
    # join_asof_tolerance key's feature-store freshness contract: the
    # latest order at-or-before each event counts only if it is within
    # the staleness bound; events whose only matches are stale KEEP
    # their row with a NULL order key (LEFT semantics — the ADVICE r11
    # $how fix this key exercises; the default INNER would drop them).
    # The bound is in MICROSECONDS (both temporal types lower to epoch
    # µs) and rides the join condition as a fan-out prune, not a
    # post-rank filter. With a LEFT join an unmatched event emits
    # exactly one all-NULL-order row, so rank-1 keeps it.
    oracle=f"""
    SELECT event_id, user_id, o_orderkey FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e LEFT JOIN orders o
        ON o.o_custkey = e.user_id
       AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
       AND epoch_us(o.o_orderdate) >= epoch_us(e.ts) - {_ASOF_TOL_US}
    ) t WHERE rn = 1
    """,
)
def compiler_asof_tolerance(spark, sf_dir):
    """Backward strategy + µs staleness bound + left join: the full
    join_asof_tolerance contract in one E1 hop. Plan: equi-join with the
    tolerance residual in the condition + per-event WindowGroupLimit
    top-1 — stale child rows are pruned at the join, never ranked."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "events": {
                "event_id": True,
                "user_id": True,
                "orders": {
                    "$asof": {
                        "$left_on": "ts",
                        "$right_on": "o_orderdate",
                        "$per": "event_id",
                        "$tiebreak": "o_orderkey",
                        "$tolerance": _ASOF_TOL_US,
                        "$how": "left",
                    },
                    "o_orderkey": True,
                },
            }
        }
    )


@query(
    "compiler_rollup",
    # $rollup through the E1 DSL (VERDICT r11 item 3 — the largest
    # remaining DSL-vs-engine capability gap): per-(flag, status)
    # totals plus per-flag subtotals plus the grand total in ONE query,
    # compiling to Spark's native rollup — a single Expand (3 grouping
    # sets per input row, partial-agg'd map-side) feeding ONE hash
    # exchange keyed on (keys, grouping_id), the exact plan the
    # registered agg_rollup key carries. The $grouping agg op
    # disambiguates subtotal NULLs from NULL data values (SQL
    # GROUPING()), matching the agg_grouping_sets discipline.
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def compiler_rollup(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "lineitem": {
                "$groupby": ["l_returnflag", "l_linestatus"],
                "$rollup": True,
                "$agg": {
                    "sum_qty": {"$sum": "l_quantity"},
                    "n": {"$count": True},
                    "g_flag": {"$grouping": "l_returnflag"},
                    "g_status": {"$grouping": "l_linestatus"},
                },
            }
        }
    )


@query(
    "compiler_cube",
    # $cube: all four grouping sets of (status, priority) in one pass —
    # same Expand + single-exchange plan as $rollup with 4 sets. Money
    # follows the §7.3 discipline: exact decimal inside the aggregate,
    # double at the emission boundary via $derive, so both engines agree
    # bitwise on every subtotal.
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total,
           grouping(o_orderstatus) AS g_status
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def compiler_cube(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$select": {
                    "price_dec": {
                        "$cast": ["o_totalprice", {"$lit": "decimal(12,2)"}]
                    }
                },
                "$groupby": ["o_orderstatus", "o_orderpriority"],
                "$cube": True,
                "$agg": {
                    "n": {"$count": True},
                    "total": {"$sum": "price_dec"},
                    "g_status": {"$grouping": "o_orderstatus"},
                },
                "$derive": {
                    "total": {"$cast": ["total", {"$lit": "double"}]}
                },
            }
        }
    )


@query(
    "compiler_grouping_sets",
    # Explicit $grouping_sets: per-flag totals, per-status totals, and
    # the grand total — no cross set — with both grouping flags
    # disambiguating which grid row is which. The empty set [] is the
    # grand total. Compiles to groupingSets (one Expand, one exchange);
    # the oracle is the literal GROUP BY GROUPING SETS twin.
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def compiler_grouping_sets(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "lineitem": {
                "$groupby": ["l_returnflag", "l_linestatus"],
                "$grouping_sets": [
                    ["l_returnflag"],
                    ["l_linestatus"],
                    [],
                ],
                "$agg": {
                    "g_flag": {"$grouping": "l_returnflag"},
                    "g_status": {"$grouping": "l_linestatus"},
                    "sum_qty": {"$sum": "l_quantity"},
                },
            }
        }
    )


@query(
    "compiler_agg_stats",
    # Round-13 registration of the round-12 engine-level statistical
    # aggregates (SURVEY roadmap M11; VERDICT r12 item 2). Spread on a
    # small-magnitude column only (l_quantity, 1..50 in 0.25 steps):
    # accumulation error ~1e-10 sits far below the round(4) grain, so
    # the rounded values are deterministic on both engines — the exact
    # agg_stats discipline (§7.3). The $derive + $round(4) pass lands
    # AFTER the aggregate, mirroring the oracle's round(..., 4) at the
    # emission boundary. Plan: one partial+final hash aggregate pair
    # around a single exchange on l_returnflag — all four moments are
    # merge-able accumulators, so the map-side combine carries
    # (n, Σx, Σx²) triples, never rows (plan-pinned in test_compiler).
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(stddev_pop(l_quantity), 4) AS sd_pop_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(var_pop(l_quantity), 4) AS var_pop_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def compiler_agg_stats(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "lineitem": {
                "$groupby": ["l_returnflag"],
                "$agg": {
                    "sd_qty": {"$stddev": "l_quantity"},
                    "sd_pop_qty": {"$stddev_pop": "l_quantity"},
                    "var_qty": {"$var": "l_quantity"},
                    "var_pop_qty": {"$var_pop": "l_quantity"},
                },
                "$derive": {
                    "sd_qty": {"$round": ["sd_qty", 4]},
                    "sd_pop_qty": {"$round": ["sd_pop_qty", 4]},
                    "var_qty": {"$round": ["var_qty", 4]},
                    "var_pop_qty": {"$round": ["var_pop_qty", 4]},
                },
            }
        }
    )


@query(
    "compiler_percentile",
    # $median / $percentile through the E1 DSL (M11, second key):
    # interpolated quantile_cont semantics on the 0.25-step l_quantity
    # column — interpolation between adjacent 0.25 steps lands on
    # binary-exact 0.125 grids, so round(4) is boundary-free on both
    # engines (the agg_percentile_exact discipline). Scale note: Spark's
    # percentile is an exact aggregate that collects per-group value
    # counts on the reducer; it is the correct choice here because the
    # VALUE DOMAIN is tiny (200 distinct quantities regardless of row
    # count) — for unbounded domains at 100 TB the registered
    # approx-sketch keys (agg_approx_percentile_sketch) are the path.
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def compiler_percentile(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "lineitem": {
                "$groupby": ["l_returnflag"],
                "$agg": {
                    "median_qty": {"$median": "l_quantity"},
                    "p90_qty": {"$percentile": ["l_quantity", 0.9]},
                },
                "$derive": {
                    "median_qty": {"$round": ["median_qty", 4]},
                    "p90_qty": {"$round": ["p90_qty", 4]},
                },
            }
        }
    )


@query(
    "compiler_asof_forward",
    # $strategy "forward" through the E1 DSL (VERDICT r12 item 8 — the
    # one $asof strategy with engine tests but no driver key; zero new
    # engine code). Orders → events: for each order, the EARLIEST event
    # at-or-after the order date for that customer (ts ASC, event_id
    # ASC tiebreak). Mixed date/timestamp ordering pair lowers to epoch
    # µs on both engines; NULL ordering values never match; INNER
    # semantics drop orders whose customer has no event at-or-after.
    # Output avoids raw timestamps (event_id identifies the match), so
    # the value hash is timezone-proof by construction.
    oracle="""
    SELECT o_orderkey, o_custkey, event_id FROM (
      SELECT o.o_orderkey, o.o_custkey, e.event_id,
             row_number() OVER (
               PARTITION BY o.o_orderkey
               ORDER BY e.ts, e.event_id) AS rn
      FROM orders o JOIN events e
        ON e.user_id = o.o_custkey
       AND o.o_orderdate IS NOT NULL AND e.ts IS NOT NULL
       AND epoch_us(e.ts) >= epoch_us(o.o_orderdate)
    ) t WHERE rn = 1
    """,
)
def compiler_asof_forward(spark, sf_dir):
    """Same plan family as the other $asof keys: user-key equi-join with
    the direction predicate riding the join condition + per-order
    WindowGroupLimit top-1 (partial on both sides of the exchange) — the
    temporal fan-out is pruned at the join, never materialized."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "o_orderkey": True,
                "o_custkey": True,
                "events": {
                    "$asof": {
                        "$left_on": "o_orderdate",
                        "$right_on": "ts",
                        "$per": "o_orderkey",
                        "$tiebreak": "event_id",
                        "$strategy": "forward",
                    },
                    "event_id": True,
                },
            }
        }
    )


# ---------------------------------------------------------------------------
# Round-13 M12 registration: vector similarity through the E1 DSL.
# The query vector is a deterministic module literal inlined into BOTH the
# Spark spec and the DuckDB oracle (the hyperplane-LSH discipline:
# shared-by-construction constants can never drift apart). dim matches the
# fixture embeddings (64, FIXTURES.md).
_QV = [round(0.05 * (i % 9) - 0.2, 2) for i in range(64)]
_QV_DUCK = "[" + ",".join(f"{x!r}" for x in _QV) + "]"


@query(
    "compiler_vector_similarity",
    # All three M12 expression ops ($dot/$cosine/$euclidean) in one
    # projection against the literal query vector. round(6) emission per
    # the llm_knn discipline: dot magnitudes here are O(1)-O(10) and both
    # engines fold in array order in float64, so accumulation error
    # (~1e-14) sits far below the 5e-7 rounding grain. The oracle spells
    # cosine as dot/(‖a‖·‖b‖) with explicit sqrt — the engine's exact
    # norm-product form — rather than list_cosine_similarity, so the two
    # sides share the formula, not just the name. Euclidean uses DuckDB's
    # list_distance (√Σ(aᵢ-bᵢ)² over the double-cast list — same
    # textbook form the wave-43 ground-truth replay recomputes in numpy).
    # NULL embedding → NULL on both engines (zip_with/list_dot_product
    # both propagate); zero-norm cosine → NULL on both (x/0.0 is NULL in
    # Spark non-ANSI and DuckDB alike).
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT vec_id,
           round(list_dot_product(e, {_QV_DUCK}), 6) AS dot_q,
           round(list_dot_product(e, {_QV_DUCK})
                 / (sqrt(list_dot_product(e, e))
                    * sqrt(list_dot_product({_QV_DUCK}, {_QV_DUCK}))),
                 6) AS cos_q,
           round(list_distance(e, {_QV_DUCK}), 6) AS dist_q
    FROM v
    """,
)
def compiler_vector_similarity(spark, sf_dir):
    """Scale shape: ONE exchange-free codegen projection — each metric is
    a zip_with+aggregate HOF over the embedding array and a literal
    vector, evaluated JVM-side per row (no Python eval node, no shuffle,
    scan pruned to vec_id+embedding). At 100 TB this is the map-side
    scoring kernel the llm_knn_* keys build their top-k on; plan pinned
    in tests/test_plans.py."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "embeddings": {
                "vec_id": True,
                "$select": {
                    "dot_q": {
                        "$round": [{"$dot": ["embedding", {"$lit": _QV}]}, 6]
                    },
                    "cos_q": {
                        "$round": [
                            {"$cosine": ["embedding", {"$lit": _QV}]}, 6
                        ]
                    },
                    "dist_q": {
                        "$round": [
                            {"$euclidean": ["embedding", {"$lit": _QV}]}, 6
                        ]
                    },
                },
            }
        }
    )


@query(
    "compiler_vector_topk",
    # End-to-end similarity search through the DSL: score (rounded
    # $cosine), rank, cut — the full query a user of the engine writes
    # for "20 nearest documents to this query embedding". Ordering is on
    # the ROUNDED value both engines emit (never the raw double), with
    # vec_id as a unique tiebreak, so the top-20 membership and order
    # are deterministic cross-engine (§7.3 topk discipline).
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT vec_id, label,
           round(list_dot_product(e, {_QV_DUCK})
                 / (sqrt(list_dot_product(e, e))
                    * sqrt(list_dot_product({_QV_DUCK}, {_QV_DUCK}))),
                 6) AS cos_q
    FROM v
    ORDER BY cos_q DESC, vec_id
    LIMIT 20
    """,
)
def compiler_vector_topk(spark, sf_dir):
    """Scale shape: the scoring projection is the exchange-free kernel
    above; the global top-20 plans as TakeOrderedAndProject — per-
    partition heaps of 20 rows reduced on the driver, NEVER a full sort
    exchange (the same physical strategy sort_topk pins). At 100 TB the
    cut ships k rows per partition, not the table."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "embeddings": {
                "vec_id": True,
                "label": True,
                "$select": {
                    "cos_q": {
                        "$round": [
                            {"$cosine": ["embedding", {"$lit": _QV}]}, 6
                        ]
                    },
                },
                "$orderby": [["cos_q", "desc"], ["vec_id", "asc"]],
                "$limit": 20,
            }
        }
    )


@query(
    "compiler_split_explode_wordcount",
    # Round-13 M13 registration: the token-count pipeline through the
    # DSL — $split (plain-string, empties kept) → $explode (inner:
    # NULL-text parents drop on both engines: string_split(NULL) is a
    # NULL list and unnest(NULL) emits 0 rows, exactly Spark's
    # explode-of-NULL) → groupBy count → deterministic top-100 on the
    # (cnt DESC, token ASC) total order. Both engines sort strings in
    # binary/UTF8_BINARY collation, so boundary ties cut identically.
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 100
    """,
)
def compiler_split_explode_wordcount(spark, sf_dir):
    """Scale shape: split+explode is ONE codegen Generate evaluated
    streaming per input partition (the fan-out is never materialized);
    the count is a partial+final hash-agg pair around the single token
    exchange — map-side combine ships (token, n) pairs, never token
    instances; the top-100 is TakeOrderedAndProject over the agg
    output. At 100 TB this is the vocabulary-build kernel
    (llm_vocab_coverage's shape) reached through the compiler."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "documents": {
                "doc_id": True,
                "$select": {"tok": {"$split": ["text", {"$lit": " "}]}},
                "$explode": {"$col": "tok", "$as": "token"},
                "$groupby": ["token"],
                "$agg": {"cnt": {"$count": True}},
                "$orderby": [["cnt", "desc"], ["token", "asc"]],
                "$limit": 100,
            }
        }
    )


@query(
    "compiler_explode_pos_outer",
    # Second M13 key: the row-level form with BOTH extensions — $pos
    # (0-based element ordinal) and $how outer (parents whose array is
    # NULL or empty survive as ONE row with NULL element AND NULL
    # ordinal). The oracle manufactures the padded row by substituting
    # [NULL] for degenerate lists before unnest, and NULLs the ordinal
    # on exactly those rows — generate_subscripts is 1-based, hence the
    # -1. A NULL text (the null battery plants them every 7th row)
    # rides the padded path on both engines by construction.
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS tok
      FROM documents WHERE doc_id < 50
    ),
    p AS (
      SELECT doc_id,
             CASE WHEN tok IS NULL OR len(tok) = 0
                  THEN [CAST(NULL AS VARCHAR)] ELSE tok END AS tok2,
             (tok IS NULL OR len(tok) = 0) AS padded
      FROM s
    )
    SELECT doc_id,
           CASE WHEN padded THEN NULL
                ELSE generate_subscripts(tok2, 1) - 1 END AS idx,
           unnest(tok2) AS token
    FROM p
    """,
)
def compiler_explode_pos_outer(spark, sf_dir):
    """Scale shape: pushed doc_id range filter reaches the parquet scan;
    posexplode_outer is the same zero-shuffle streaming Generate as the
    inner form (outer padding is per-row, no join); output is map-only —
    zero exchanges end to end."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "documents": {
                "doc_id": True,
                "$filter": {"doc_id": {"$lt": 50}},
                "$select": {"tok": {"$split": ["text", {"$lit": " "}]}},
                "$explode": {
                    "$col": "tok",
                    "$as": "token",
                    "$pos": "idx",
                    "$how": "outer",
                },
            }
        }
    )


@query(
    "compiler_where_distinct_docs",
    # Round-13 M14 registration, key 1: $where binding the post-$explode
    # frame — the form $filter cannot express (the token column only
    # exists after the fan-out). Non-empty tokens ranked by how many
    # DISTINCT documents they appear in, then by total count, token —
    # a unique total order, so the top-50 cut is deterministic.
    oracle="""
    SELECT token,
           count(DISTINCT doc_id) AS ndocs,
           count(*) AS cnt
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY ndocs DESC, cnt DESC, token
    LIMIT 50
    """,
)
def compiler_where_distinct_docs(spark, sf_dir):
    """Scale shape: the $where lands INSIDE the codegen stage right
    after the Generate (a streaming filter, no materialization); the
    distinct-doc count is Spark's standard two-phase distinct aggregate
    (partial (token, doc_id) dedup map-side, then the token exchange);
    top-50 is TakeOrderedAndProject."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "documents": {
                "doc_id": True,
                "$select": {"tok": {"$split": ["text", {"$lit": " "}]}},
                "$explode": {"$col": "tok", "$as": "token"},
                "$where": {"token": {"$ne": ""}},
                "$groupby": ["token"],
                "$agg": {
                    "ndocs": {"$count_distinct": "doc_id"},
                    "cnt": {"$count": True},
                },
                "$orderby": [
                    ["ndocs", "desc"], ["cnt", "desc"], ["token", "asc"]
                ],
                "$limit": 50,
            }
        }
    )


@query(
    "compiler_collect_segments",
    # Round-13 M14 registration, key 2: collection aggregates through
    # the DSL. NULL skipping is the engine contract (Spark collect_*),
    # so the oracle FILTERs NULLs out of DuckDB's NULL-keeping list();
    # both sides sort before emission (shuffle order is meaningless)
    # and the driver-facing hash is the joined string ($array_join in
    # $derive ≡ array_to_string, which would silently MASK a NULL
    # divergence — hence the FILTER must mirror the engine contract,
    # not rely on the join's null-skip).
    # COALESCE guards the all-NULL-group edge (round-13 self-review
    # pass 2): Spark's collect_* over an all-NULL group is an EMPTY
    # ARRAY (→ '' after array_join), but DuckDB's FILTERed list() over
    # zero surviving rows is NULL (→ NULL after array_to_string) — the
    # fixtures never produce such a group today, but the oracle must
    # encode the engine contract, not rely on fixture luck.
    oracle="""
    SELECT c_nationkey,
           coalesce(array_to_string(
             list_sort(list(DISTINCT c_mktsegment)
                       FILTER (WHERE c_mktsegment IS NOT NULL)), ','), '')
             AS segs,
           coalesce(array_to_string(
             list_sort(list(c_mktsegment)
                       FILTER (WHERE c_mktsegment IS NOT NULL)), ','), '')
             AS seg_bag
    FROM customer GROUP BY c_nationkey
    """,
)
def compiler_collect_segments(spark, sf_dir):
    """Scale shape: one partial+final aggregate pair around the nation
    exchange; collect_set dedups map-side so the shuffle carries the
    per-partition distinct sets; collect_list ships the values (bounded
    here by the 5-segment domain x group size — unbounded-cardinality
    collections at 100 TB belong in re-nested $collect child arrays or
    explicit top-k, not a group blob)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$groupby": ["c_nationkey"],
                "$agg": {
                    "segs": {"$collect_set": "c_mktsegment"},
                    "seg_bag": {"$collect_list": "c_mktsegment"},
                },
                "$derive": {
                    "segs": {"$array_join": ["segs", {"$lit": ","}]},
                    "seg_bag": {"$array_join": ["seg_bag", {"$lit": ","}]},
                },
            }
        }
    )


@query(
    "compiler_corr_covar",
    # Round-13 M15 registration: paired-column statistics through the
    # DSL, mirroring the raw agg_stats key's column/rounding discipline
    # EXACTLY (corr on the two small-magnitude rate columns, covariance
    # on quantity x discount, round(6) — accumulation error ~1e-12 sits
    # far below the 5e-7 grain; money columns would NOT survive, §7.3).
    # Pair exclusion (either side NULL → row skipped) is the same in
    # both engines — pinned by the null battery, which nulls l_quantity
    # every 13th row.
    oracle="""
    SELECT l_returnflag,
           round(corr(l_discount, l_tax), 6) AS corr_disc_tax,
           round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
           round(covar_pop(l_quantity, l_discount), 6) AS covp_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def compiler_corr_covar(spark, sf_dir):
    """Scale shape: all three are merge-able moment accumulators
    ((n, Σx, Σy, Σxy, Σx², Σy²)), so the plan is ONE partial+final
    hash-aggregate pair around the single returnflag exchange — the
    same plan family as compiler_agg_stats (plan pinned)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "lineitem": {
                "$groupby": ["l_returnflag"],
                "$agg": {
                    "corr_disc_tax": {"$corr": ["l_discount", "l_tax"]},
                    "cov_qty_disc": {"$covar": ["l_quantity", "l_discount"]},
                    "covp_qty_disc": {
                        "$covar_pop": ["l_quantity", "l_discount"]
                    },
                },
                "$derive": {
                    "corr_disc_tax": {"$round": ["corr_disc_tax", 6]},
                    "cov_qty_disc": {"$round": ["cov_qty_disc", 6]},
                    "covp_qty_disc": {"$round": ["covp_qty_disc", 6]},
                },
            }
        }
    )


@query(
    "compiler_calendar_rollup",
    # Round-13 M16 registration: all three calendar ops in the classic
    # time-series shape — orders rolled up by calendar month. The month
    # key is a DATE on both engines ($date_trunc emits DATE; Spark's
    # raw timestamp result would be session-timezone-rendered — the r12
    # lesson applied at the type level). avg(day-of-month) and
    # avg(days-since-epoch) are small/medium-magnitude means whose
    # accumulation error (~1e-13) sits far below the round(4) grain.
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS omonth,
           count(*) AS n_orders,
           round(avg(day(o_orderdate)), 4) AS avg_dom,
           round(avg(date_diff('day', DATE '1995-01-01', o_orderdate)), 4)
             AS avg_age
    FROM orders GROUP BY 1
    """,
)
def compiler_calendar_rollup(spark, sf_dir):
    """Scale shape: the calendar columns are codegen projections riding
    the scan; the rollup is one partial+final hash-agg pair around the
    single month exchange — ~120 month groups regardless of row count,
    so the shuffle carries accumulators, never rows (plan pinned)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$select": {
                    "omonth": {
                        "$date_trunc": ["o_orderdate", {"$lit": "month"}]
                    },
                    "dom": {"$day": "o_orderdate"},
                    "age": {
                        "$datediff": ["o_orderdate", {"$lit": "1995-01-01"}]
                    },
                },
                "$groupby": ["omonth"],
                "$agg": {
                    "n_orders": {"$count": True},
                    "avg_dom": {"$avg": "dom"},
                    "avg_age": {"$avg": "age"},
                },
                "$derive": {
                    "avg_dom": {"$round": ["avg_dom", 4]},
                    "avg_age": {"$round": ["avg_age", 4]},
                },
            }
        }
    )


@query(
    "compiler_string_normalize",
    # Round-13 M17 registration: the string family through the DSL in
    # the normalize-then-group shape every ingest pipeline runs —
    # source tags normalized (plain-string replace → trim → upper),
    # counted, with a distinct-prefix cardinality per tag. NULL source
    # normalizes to a NULL group on both engines (GROUP BY keeps it);
    # NULL text drops out of count(DISTINCT) on both.
    oracle="""
    SELECT upper(trim(replace(source, '-', ' '))) AS src_norm,
           count(*) AS n_docs,
           count(DISTINCT substring(text, 1, 8)) AS n_heads
    FROM documents GROUP BY 1
    """,
)
def compiler_string_normalize(spark, sf_dir):
    """Scale shape: the normalization chain is pure codegen on the scan
    (no Python); the rollup is a partial+final hash-agg pair; the
    distinct-prefix count is the standard two-phase distinct aggregate
    — the 8-char substring, not the document body, rides the shuffle."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "documents": {
                "$select": {
                    "src_norm": {
                        "$upper": {
                            "$trim": {
                                "$replace": [
                                    "source", {"$lit": "-"}, {"$lit": " "}
                                ]
                            }
                        }
                    },
                    "head": {"$substring": ["text", 1, 8]},
                },
                "$groupby": ["src_norm"],
                "$agg": {
                    "n_docs": {"$count": True},
                    "n_heads": {"$count_distinct": "head"},
                },
            }
        }
    )


@query(
    "compiler_null_combinators",
    # Round-14 M18 registration: the null-handling combinators in the
    # shape every dirty-data rollup runs — a $nullif/$coalesce-derived
    # group key (MACHINERY folded into OTHER via NULL-on-equal, NULL
    # segments recovered the same way) over $greatest/$least-clamped
    # and $coalesce-filled balances. NULL semantics are the point:
    # coalesce takes the first non-NULL; greatest/least SKIP NULLs
    # (NULL only when every operand is — probed identical in both
    # engines, r13); on the null battery's c_mktsegment/c_acctbal nulls
    # every op sees real NULLs. Money discipline per §7.3: clamp in
    # double (comparison only, no arithmetic), cast the 2-dec-exact
    # result to DECIMAL(12,2), sum exactly, emit as double.
    oracle="""
    SELECT coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg,
           count(*) AS n_cust,
           CAST(sum(CAST(greatest(c_acctbal, 0.0) AS DECIMAL(12,2)))
                AS DOUBLE) AS sum_hi,
           CAST(sum(CAST(least(c_acctbal, 1000.0) AS DECIMAL(12,2)))
                AS DOUBLE) AS sum_lo,
           CAST(sum(CAST(coalesce(c_acctbal, 0.0) AS DECIMAL(12,2)))
                AS DOUBLE) AS sum_fill
    FROM customer GROUP BY 1
    """,
)
def compiler_null_combinators(spark, sf_dir):
    """Scale shape: the combinator chain is pure codegen on the scan
    (no Python, no exchange contribution); the rollup is one
    partial+final hash-agg pair around a single ≤5-group exchange —
    decimal accumulators ride the shuffle, never rows (plan pinned)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    dec = {"$lit": "decimal(12,2)"}
    return eng.query(
        {
            "customer": {
                "$select": {
                    "seg": {
                        "$coalesce": [
                            {"$nullif": ["c_mktsegment",
                                         {"$lit": "MACHINERY"}]},
                            {"$lit": "OTHER"},
                        ]
                    },
                    "bal_hi": {
                        "$cast": [{"$greatest": ["c_acctbal",
                                                 {"$lit": 0.0}]}, dec]
                    },
                    "bal_lo": {
                        "$cast": [{"$least": ["c_acctbal",
                                              {"$lit": 1000.0}]}, dec]
                    },
                    "bal_fill": {
                        "$cast": [{"$coalesce": ["c_acctbal",
                                                 {"$lit": 0.0}]}, dec]
                    },
                },
                "$groupby": ["seg"],
                "$agg": {
                    "n_cust": {"$count": True},
                    "sum_hi": {"$sum": "bal_hi"},
                    "sum_lo": {"$sum": "bal_lo"},
                    "sum_fill": {"$sum": "bal_fill"},
                },
                "$derive": {
                    "sum_hi": {"$cast": ["sum_hi", {"$lit": "double"}]},
                    "sum_lo": {"$cast": ["sum_lo", {"$lit": "double"}]},
                    "sum_fill": {"$cast": ["sum_fill", {"$lit": "double"}]},
                },
            }
        }
    )


@query(
    "compiler_traverse_reachable",
    # Round-14 M19 registration (fixpoint mode): the reachable set as a
    # query verb — naqed's resolver-graph traversal to fixpoint, the
    # last model gap without a DSL spelling. Seeds {0, 14}; edges = the
    # $via relationship chain nation → "region" → "nations" (the
    # same-region clique); NO depth bound — the engine iterates the
    # DataFrame-Pregel loop until the frontier empties (the visited
    # anti-join handles the clique's cycles; the 100-superstep safety
    # cap raises typed if a graph outruns it). DuckDB twin: WITH
    # RECURSIVE bounded at 3 hops ≥ the clique diameter (1), min(d)
    # recovering the BFS depth — the graph_reachability_bfs oracle
    # discipline.
    oracle="""
    WITH RECURSIVE e AS (
      SELECT a.n_nationkey AS src, b.n_nationkey AS dst
      FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
    ), r AS (
      SELECT n_nationkey AS v, 0 AS d FROM nation
      WHERE n_nationkey IN (0, 14)
      UNION
      SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.v WHERE r.d < 3
    )
    SELECT n.n_nationkey, n.n_name, min(r.d) AS dist
    FROM r JOIN nation n ON n.n_nationkey = r.v
    GROUP BY n.n_nationkey, n.n_name
    """,
)
def compiler_traverse_reachable(spark, sf_dir):
    """Scale shape: each superstep is ONE frontier ⋈ edges equi-join
    (shuffled on vertex id — at 100 TB edges are pre-partitioned by src
    and the tiny frontier broadcasts under AQE) + one min aggregation
    per vertex, with localCheckpoint per superstep cutting lineage — the
    ``graph.relax_min`` loop with unit weights, whose ``_util.fixpoint``
    driver holds retained state at O(1). State per vertex is O(1); no
    cartesian anywhere (plan-linted)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "nation": {
                "$traverse": {
                    "$seeds": {"n_nationkey": {"$in": [0, 14]}},
                    "$via": ["region", "nations"],
                },
                "n_nationkey": True,
                "n_name": True,
                "dist": True,
            }
        }
    )


@query(
    "compiler_traverse_edges",
    # Round-14 M19 registration (edge-resolver mode, bounded depth):
    # $edges is a full sub-query — here the binary-tree parent edge
    # src = (k - k%2)/2 (the §7.3 integer-geometry idiom, cast bigint),
    # dst = k — walked 6 hops from seed 0. Depths are real (1, 2, 4, 8,
    # 16, 32 nodes at hops 1-6; 64 rows total at every SF — custkeys
    # 0-63 exist from sf0.001 up), so the loop demonstrably iterates.
    # DuckDB twin: WITH RECURSIVE over the same integer-division edge
    # (// — exact integer semantics on both engines), min(d) per vertex.
    oracle="""
    WITH RECURSIVE e AS (
      SELECT (c_custkey - c_custkey % 2) // 2 AS src, c_custkey AS dst
      FROM customer
    ), r AS (
      SELECT c_custkey AS v, 0 AS d FROM customer WHERE c_custkey = 0
      UNION
      SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.v WHERE r.d < 6
    )
    SELECT c.c_custkey, c.c_mktsegment, min(r.d) AS dist
    FROM r JOIN customer c ON c.c_custkey = r.v
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def compiler_traverse_edges(spark, sf_dir):
    """Scale shape: identical Pregel loop as compiler_traverse_reachable
    (one equi-join + distinct + anti-join per superstep, checkpointed);
    $max_depth bounds the supersteps so the cost is depth × one-join,
    never a transitive-closure materialization. The edge sub-query is
    itself a compiled DSL plan (codegen projection on the scan)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$traverse": {
                    "$seeds": {"c_custkey": 0},
                    "$edges": {"customer": {"$select": {
                        "src": {"$cast": [
                            {"$div": [{"$sub": ["c_custkey",
                                                {"$mod": ["c_custkey", 2]}]},
                                      2]},
                            {"$lit": "bigint"},
                        ]},
                        "dst": "c_custkey",
                    }}},
                    "$max_depth": 6,
                },
                "c_custkey": True,
                "c_mktsegment": True,
                "dist": True,
            }
        }
    )


@query(
    "compiler_json_keys_histogram",
    # Round-14 M20 registration: JSON map introspection through the DSL
    # — the per-property histogram every semi-structured ingest runs.
    # $json_keys(props) explodes to one row per top-level key; per key:
    # event count + the mean property-count of the events carrying it.
    # Contract (probed cross-engine BEFORE implementation): NULL unless
    # props is a VALID JSON OBJECT — the DuckDB twin guards with
    # json_valid + json_type because raw json_keys returns [] on
    # 'null'/arrays and RAISES on malformed where Spark's from_json
    # NULLs all three; NULL/invalid/empty-object rows drop identically
    # on both sides (inner explode ≡ unnest over the guarded subquery).
    # avg at round(4) per the calendar_rollup small-magnitude
    # discipline.
    oracle="""
    SELECT k,
           count(*) AS n_events,
           round(avg(nk), 4) AS avg_props
    FROM (
      SELECT unnest(json_keys(props)) AS k,
             array_length(json_keys(props)) AS nk
      FROM events
      WHERE json_valid(props) AND json_type(json(props)) = 'OBJECT'
    ) GROUP BY k
    """,
)
def compiler_json_keys_histogram(spark, sf_dir):
    """Scale shape: one codegen projection (from_json/map_keys — no
    Python) + a streaming Generate (the fan-out is never materialized)
    + one partial+final hash-agg pair around the single key exchange;
    the shuffle carries (key, count, sum, n) accumulators over a
    bounded key domain, never event rows (plan pinned)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "events": {
                "$select": {
                    "k": {"$json_keys": "props"},
                    "nk": {"$json_size": "props"},
                },
                "$explode": "k",
                "$groupby": ["k"],
                "$agg": {
                    "n_events": {"$count": True},
                    "avg_props": {"$avg": "nk"},
                },
                "$derive": {"avg_props": {"$round": ["avg_props", 4]}},
            }
        }
    )


@query(
    "compiler_stream_tumbling",
    # Round-14 M21 registration: the §2-J streaming family through E1 —
    # the $stream verb's tumbling-window aggregation, compiling to the
    # SAME Structured-Streaming graph stream_tumbling_window runs
    # (availableNow file replay → memory sink). Oracle = the batch twin
    # (SURVEY §2-J: a bounded replay must equal the batch computation —
    # Structured Streaming's own correctness contract), money under the
    # exact-DECIMAL discipline.
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def compiler_stream_tumbling(spark, sf_dir):
    """Scale shape: state is per (window × event_type) in the state
    store — bounded; at production scale the same spec carries a
    $watermark for append-mode eviction (engine-tested). The DSL adds
    zero execution surface: it emits the identical transformation
    graph the registered stream key runs."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"$stream": {
        "$source": "events",
        "$window": {"$size": "1 hour"},
        "$groupby": ["event_type"],
        "$agg": {"n_events": {"$count": True},
                 "sum_value": {"$sum": "value"}},
    }})


@query(
    "compiler_stream_session",
    # Round-14 M21 registration (session windows): $session_gap merges
    # events within 30 min per user into one session — Spark's
    # session_window ≡ the lag-gap sessionization. Spark session
    # windows are [start, last+gap) END-EXCLUSIVE, so an event exactly
    # gap after the previous starts a NEW session: the break condition
    # is gap >= 30 min, the same '>=' the verified
    # stream_session_window oracle pins (streaming.py). Ties at the
    # same ts give gap 0 and can never split a session, so the window
    # spelling is tie-deterministic. win_start_us = the session's
    # first event.
    oracle="""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
    ), m AS (
      SELECT *,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ), s AS (
      SELECT *,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT min(ts_us) AS win_start_us,
           user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def compiler_stream_session(spark, sf_dir):
    """Scale shape: session state is per (user, open session) and
    merges incrementally in the state store — the streaming form of
    the win_sessionize single-exchange batch shape; a $watermark
    bounds open-session state at production scale (engine-tested)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"$stream": {
        "$source": "events",
        "$session_gap": "30 minutes",
        "$groupby": ["user_id"],
        "$agg": {"n_events": {"$count": True},
                 "sum_value": {"$sum": "value"}},
    }})


@query(
    "compiler_stream_sliding",
    # Round-15 M21 completion (VERDICT r14 item 1): the $stream verb's
    # third window mode — $window.$slide. 1-h windows sliding every
    # 15 min × event_type (the raw stream_sliding_window key proves the
    # twin spelling; this registration adds the $groupby dimension the
    # raw key doesn't exercise). Batch twin: every event belongs to
    # exactly window/slide = 4 sliding windows whose starts are its
    # 15-min epoch bucket minus k*15 min, k ∈ 0..3 — Spark's window()
    # is epoch-aligned, so the integer-division spelling is exact.
    # Money under the exact-DECIMAL discipline (§7.3).
    oracle="""
    WITH offs AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS k)
    SELECT (epoch_us(ts) // 900000000) * 900000000 - k * 900000000
             AS win_start_us,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN offs
    GROUP BY 1, 2
    """,
)
def compiler_stream_sliding(spark, sf_dir):
    """Scale shape: state is per (window × event_type) with a fixed
    window/slide = 4× amplification bound — the slide ratio, not the
    stream volume, caps state; at production scale a $watermark
    (engine-tested) evicts closed windows in append mode. The DSL adds
    zero execution surface: it emits the identical transformation
    graph the hash-green stream_sliding_window key runs, plus the
    grouping key."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"$stream": {
        "$source": "events",
        "$window": {"$size": "1 hour", "$slide": "15 minutes"},
        "$groupby": ["event_type"],
        "$agg": {"n_events": {"$count": True},
                 "sum_value": {"$sum": "value"}},
    }})


@query(
    "compiler_stream_static_join",
    # Round-16 M29 registration (VERDICT r15 item 1): the $stream join
    # surface — stream ⋈ static dimension enrich, the most common
    # streaming operation a user types (the raw stream_static_join key
    # proves the engine half; this spells it in the DSL and composes it
    # with the windowed aggregation so the enriched dim field is the
    # GROUPING key, which the raw key doesn't exercise). Batch twin:
    # the availableNow replay of enrich-then-window-aggregate equals
    # the batch join + group-by over the same rows (Structured
    # Streaming's own correctness contract; stream-static joins are
    # stateless per micro-batch). Money under the exact-DECIMAL
    # discipline (§7.3).
    oracle="""
    SELECT epoch_us(date_trunc('hour', e.ts)) AS win_start_us,
           c.c_mktsegment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def compiler_stream_static_join(spark, sf_dir):
    """Scale shape: the dimension is pruned to (join key + carried
    fields) and broadcast per micro-batch — the stream side never
    shuffles for the join (the enrich cost is O(batch) map-side work);
    windowed state is per (window × segment), bounded. At 100 TB the
    same spec holds: dims are dim-sized by definition, and the one
    exchange in the plan is the windowed aggregation's."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"$stream": {
        "$source": "events",
        "$join": {"$entity": "customer",
                  "$on": {"user_id": "c_custkey"},
                  "$fields": ["c_mktsegment"]},
        "$window": {"$size": "1 hour"},
        "$groupby": ["c_mktsegment"],
        "$agg": {"n_events": {"$count": True},
                 "sum_value": {"$sum": "value"}},
    }})


@query(
    "compiler_stream_dedup",
    # Round-16 M30 registration (VERDICT r15 item 2): watermarked
    # streaming dedup spelled in the DSL — the first stage of every
    # at-least-once ingest pipeline (dropDuplicates on a content/event
    # id). The harness replays the at-least-once staging (`dup/`:
    # every chunk delivered TWICE — dedup's contract is only
    # observable under redelivery), and the batch twin is the exact
    # event rows: dedup of the doubled delivery ≡ the source, because
    # event_id is unique in the entity (the stream_dedup raw-key
    # harness discipline; that raw key is rows-only — this DSL key
    # upgrades the dedup surface to a hash-exact driver check).
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
           props
    FROM events
    """,
)
def compiler_stream_dedup(spark, sf_dir):
    """Scale shape: dedup state is keyed on event_id alone and EVICTED
    once the watermark passes an entry's expiry
    (dropDuplicatesWithinWatermark) — bounded state on an unbounded
    stream, which is why the DSL refuses a $distinct without
    $watermark at parse time. First occurrence emits immediately
    (append mode); redeliveries inside the watermark delay drop."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"$stream": {
        "$source": "events",
        "$distinct": ["event_id"],
        "$watermark": "10 minutes",
    }})


@query(
    "compiler_window_nav",
    # Round-16 M32 registration (VERDICT r15 item 6): $first/$last/
    # $nth in $window — the raw win_first_last_nth key's navigation
    # trio spelled through the DSL, same explicit-frame discipline
    # (the engine PINS ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING:
    # the default ORDER BY frame stops at CURRENT ROW, the classic
    # last_value footgun; a user $frame on a nav fn is refused typed).
    # Order includes the unique key (§7.3 tie discipline). The DSL
    # composes what the raw key can't: $qualify bounds the emission to
    # each customer's top-2 rows, exercising nav + rank in ONE window
    # spec sharing one exchange.
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER w AS last_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok,
           CAST(row_number() OVER w2 AS INT) AS rk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING),
           w2 AS (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC)
    QUALIFY rk <= 2
    """,
)
def compiler_window_nav(spark, sf_dir):
    """Scale shape: all four window functions share ONE (o_custkey ×
    (o_totalprice, o_orderkey)) spec → ONE exchange (plan-checked).
    NOTE: the $qualify rank bound deliberately does NOT become a
    WindowGroupLimit pre-shuffle prune here — last/nth need the FULL
    partition, so row pruning before the exchange would corrupt them;
    Spark correctly keeps the limit post-window, and the cost model is
    one full (custkey)-partitioned window pass, same as the raw
    win_first_last_nth key."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    order = [["o_totalprice", "desc"], ["o_orderkey", "asc"]]
    return eng.query({"orders": {
        "o_custkey": True,
        "o_orderkey": True,
        "o_totalprice": True,
        "$window": {
            "first_ok": {"$first": {"$partition": ["o_custkey"],
                                    "$order": order,
                                    "$of": "o_orderkey"}},
            "last_ok": {"$last": {"$partition": ["o_custkey"],
                                  "$order": order,
                                  "$of": "o_orderkey"}},
            "second_ok": {"$nth": {"$partition": ["o_custkey"],
                                   "$order": order,
                                   "$of": "o_orderkey", "$n": 2}},
            "rk": {"$row_number": {"$partition": ["o_custkey"],
                                   "$order": order}},
        },
        "$qualify": {"rk": {"$lte": 2}},
    }})


@query(
    "compiler_window_nav_nulls",
    # Round-16 M32 companion: $ignore_nulls on the navigation trio —
    # first/last/nth NON-NULL in the partition (the latest-valid-
    # reading idiom). The fixture's value column is dense, so the
    # NULLs are manufactured IN the spec ($if: value < 50 → NULL),
    # which also exercises the $select → $window composition and the
    # {"$lit": null} branch. IGNORE NULLS semantics probed identical
    # in Spark (ignorenulls flags) and DuckDB (IGNORE NULLS window
    # syntax) incl. nth counting only non-null values and all-NULL
    # partitions → NULL. Order by the unique event_id (§7.3); raw
    # double pass-through values, no arithmetic — hash-exact.
    oracle="""
    SELECT event_id, user_id, value,
           first_value(CASE WHEN value < 50 THEN NULL ELSE value END
                       IGNORE NULLS) OVER w AS first_hi,
           nth_value(CASE WHEN value < 50 THEN NULL ELSE value END,
                     2 IGNORE NULLS) OVER w AS second_hi,
           last_value(CASE WHEN value < 50 THEN NULL ELSE value END
                      IGNORE NULLS) OVER w AS last_hi
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
    """,
)
def compiler_window_nav_nulls(spark, sf_dir):
    """Scale shape: same single (user_id × event_id) window exchange
    as the dense nav key — IGNORE NULLS changes which value each
    function picks, not the plan; full partitions are semantically
    required (last/nth scan the whole frame). The NULL-manufacturing
    $if rides inside $of, so the masked column never materializes in
    the emission."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    masked = {"$if": [{"value": {"$lt": 50}}, {"$lit": None}, "value"]}
    nav = {"$partition": ["user_id"], "$order": [["event_id", "asc"]],
           "$of": masked, "$ignore_nulls": True}
    return eng.query({"events": {
        "event_id": True,
        "user_id": True,
        "value": True,
        "$window": {
            "first_hi": {"$first": nav},
            "second_hi": {"$nth": dict(nav, **{"$n": 2})},
            "last_hi": {"$last": nav},
        },
    }})


@query(
    "compiler_stream_stream_join",
    # Round-16 M33 registration: the stream ⋈ stream interval join
    # spelled in the DSL — each click joined to the same user's
    # purchases within the following hour (the raw stream_stream_join
    # key's shape through $stream_join). Both watermarks + the $within
    # time bound are parse-REQUIRED: that pair is what lets Spark
    # evict buffered join state (the 100 TB requirement). Batch twin:
    # the identical interval self-join on the events table.
    oracle="""
    SELECT a.event_id AS left_id, b.event_id AS right_id,
           a.user_id,
           epoch_us(a.ts) AS left_us, epoch_us(b.ts) AS right_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def compiler_stream_stream_join(spark, sf_dir):
    """Scale shape: state per side is the in-flight (watermark +
    within) window of rows keyed by user_id — O(window), not
    O(stream); the join shuffles both sides once on the $on keys,
    the same single exchange the batch self-join twin needs. The DSL
    adds zero execution surface over the hash-green raw key."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"$stream_join": {
        "$source": "events",
        "$left": {"event_type": "click"},
        "$right": {"event_type": "purchase"},
        "$on": ["user_id"],
        "$within": "1 hour",
        "$watermark": "10 minutes",
    }})


@query(
    "compiler_regex_filter",
    # Round-16 M31 companion: the $regex FILTER predicate — the
    # scan-level spelling (rlike ≡ DuckDB regexp_matches, partial
    # match) under the same parse-validated portable subset as the
    # $regex_* select verbs. A divergent construct in a FILTER would
    # silently change the row SET across engines, so the typed gate
    # matters even more here. Pattern exercises the \b word-boundary
    # shorthand (ASCII regime, identical in Java regex and RE2).
    # sum(n_chars) is CAST BIGINT on the oracle side (DuckDB integer
    # sums return HUGEINT, the driver canonicalizer's guard).
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE regexp_matches(text, '\\bthe\\b')
    GROUP BY lang
    """,
)
def compiler_regex_filter(spark, sf_dir):
    """Scale shape: RLike stays inside the scan stage's filter (no
    materialization boundary — Catalyst can't push a regex into
    parquet row-group stats, but the predicate runs codegen-side
    before the aggregation), then one partial+final hash-agg pair
    around a ≤5-group exchange of accumulators."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"documents": {
        "$filter": {"text": {"$regex": "\\bthe\\b"}},
        "$groupby": ["lang"],
        "$agg": {"n_docs": {"$count": True},
                 "sum_chars": {"$sum": "n_chars"}},
    }})


@query(
    "compiler_regex_text",
    # Round-16 M31 registration (VERDICT r15 item 3): regex verbs in
    # the DSL — $regex_extract / $regex_like / $regex_replace under
    # the POSIX-simple cross-engine discipline llm_tokenize_bpe_regex
    # proves. Patterns are parse-validated to the construct subset
    # with IDENTICAL Java-regex/RE2 semantics (divergent constructs —
    # backrefs, lookaround, inline flags, possessive quantifiers,
    # POSIX classes, bare $, exotic escapes — refused typed). Probed:
    # no-match extract → '', NULL text → NULL on every verb (kept in,
    # exercising three-valued $regex_like), extract is ASCII-classed
    # on multibyte text identically, replace is global on BOTH (Spark
    # default ≡ DuckDB's explicit 'g' flag — the one oracle-side
    # compensation).
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
           regexp_matches(text, '[0-9][0-9]*') AS has_number,
           length(regexp_replace(text, '[0-9]+', '#', 'g'))
             AS masked_len,
           len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words
    FROM documents
    """,
)
def compiler_regex_text(spark, sf_dir):
    """Scale shape: all three verbs are codegen string expressions on
    the scan (regexp_extract/RLike/regexp_replace are JVM intrinsics —
    no Python, no shuffle, no fan-out); the whole key is a zero-
    exchange projection, which is exactly what a 100 TB text-cleaning
    pass needs to be."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"documents": {
        "$select": {
            "doc_id": "doc_id",
            "first_word": {"$regex_extract":
                           ["text", {"$lit": "([A-Za-z]+)"}, 1]},
            "has_number": {"$regex_like":
                           ["text", {"$lit": "[0-9][0-9]*"}]},
            "masked_len": {"$length": {"$regex_replace":
                           ["text", {"$lit": "[0-9]+"},
                            {"$lit": "#"}]}},
            "n_words": {"$regex_count":
                        ["text", {"$lit": "[A-Za-z]+"}]},
        },
    }})


@query(
    "compiler_traverse_cheapest",
    # Round-14 M22 registration: weighted $traverse — cheapest path on
    # the multi-edge customer line graph (orders give ~100 parallel
    # edges per hop k → k+1 with weight o_orderkey % 10 + 1; the min
    # relaxation must pick the cheapest of each bundle). $max_depth 12
    # = cheapest path using ≤ 12 edges, mirrored by the CTE's hop cap.
    # DuckDB twin pre-mins parallel edges per (src, dst) — always
    # optimal for min-cost paths and it keeps the recursion bounded —
    # then takes min(cost) per vertex. Integer weights: exact BIGINT
    # end to end, no float path.
    oracle="""
    WITH RECURSIVE e AS (
      SELECT src, dst, min(w) AS w FROM (
        SELECT o_custkey AS src, o_custkey + 1 AS dst,
               o_orderkey % 10 + 1 AS w
        FROM orders
      ) GROUP BY src, dst
    ), r AS (
      SELECT CAST(c_custkey AS BIGINT) AS v, CAST(0 AS BIGINT) AS cost,
             0 AS hops
      FROM customer WHERE c_custkey = 0
      UNION
      SELECT e.dst, r.cost + e.w, r.hops + 1
      FROM r JOIN e ON e.src = r.v WHERE r.hops < 12
    )
    SELECT c.c_custkey, min(r.cost) AS cost
    FROM r JOIN customer c ON c.c_custkey = r.v
    GROUP BY c.c_custkey
    """,
)
def compiler_traverse_cheapest(spark, sf_dir):
    """Scale shape: frontier Bellman-Ford (``graph.relax_min``) — per
    round ONE equi-join of the improved-vertex frontier against the edge
    set + one per-vertex min over the old costs and the messages, one
    localCheckpoint per round, O(1) pinned state from the shared
    ``_util.fixpoint`` driver; converged regions stop costing joins. The
    edge sub-query is a compiled DSL codegen projection (the
    parallel-edge bundles ride the relaxation, never a pre-aggregation
    shuffle)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$traverse": {
                    "$seeds": {"c_custkey": 0},
                    "$edges": {"orders": {"$select": {
                        "src": "o_custkey",
                        "dst": {"$add": ["o_custkey", 1]},
                        "w": {"$add": [{"$mod": ["o_orderkey", 10]}, 1]},
                    }}},
                    "$weight": "w",
                    "$max_depth": 12,
                    "$as": "cost",
                },
                "c_custkey": True,
                "cost": True,
            }
        }
    )


@query(
    "compiler_scalar_threshold",
    # Round-14 M23 registration: the uncorrelated scalar subquery
    # through the DSL — orders of the lower half of the customer-key
    # space, rolled up per priority. The scalar is EXACT INTEGER math
    # end to end ((max - max%2)/2, the §7.3 integer-geometry idiom,
    # identical in both engines); a float scalar (e.g. avg of a money
    # column) would make the row SET ulp-sensitive at the boundary —
    # the engine-half tests cover that shape against an in-Spark twin,
    # and the cross-engine driver key deliberately keeps the scalar in
    # integers (the sub_scalar_uncorrelated precedent computes its
    # float threshold as exact-decimal sum / count for the same
    # reason). Money discipline on the emission per §7.3.
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_custkey <= (
      SELECT (max(c_custkey) - max(c_custkey) % 2) // 2 FROM customer)
    GROUP BY 1
    """,
)
def compiler_scalar_threshold(spark, sf_dir):
    """Scale shape: the inner aggregate is a one-row action whose value
    broadcasts as a PLAN LITERAL — the resolved predicate is pushed to
    the parquet scan (PushedFilters, plan pinned), so the outer query
    scans only the qualifying key range; the rollup is one
    partial+final hash-agg pair around a ≤5-group exchange of decimal
    accumulators. No join materializes the scalar."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    # $coalesce(-1) makes the key empty-input-safe: max over zero
    # customers is NULL, which $scalar rejects typed by design — the
    # -1 default yields an empty outer result, exactly the oracle's
    # `o_custkey <= NULL` three-valued empty (keys are >= 0).
    half = {
        "$coalesce": [
            {"$cast": [
                {"$div": [{"$sub": ["m", {"$mod": ["m", 2]}]}, 2]},
                {"$lit": "bigint"},
            ]},
            {"$lit": -1},
        ]
    }
    return eng.query(
        {
            "orders": {
                "$filter": {
                    "o_custkey": {"$lte": {"$scalar": {
                        "customer": {
                            "$agg": {"m": {"$max": "c_custkey"}},
                            "$derive": {"m": half},
                        }
                    }}}
                },
                "$select": {
                    "tp": {"$cast": ["o_totalprice",
                                     {"$lit": "decimal(12,2)"}]}
                },
                "$groupby": ["o_orderpriority"],
                "$agg": {
                    "n_orders": {"$count": True},
                    "sum_price": {"$sum": "tp"},
                },
                "$derive": {
                    "sum_price": {"$cast": ["sum_price", {"$lit": "double"}]}
                },
            }
        }
    )


@query(
    "compiler_approx_count_distinct",
    # Round-15 M24 registration: the approximate-sketch surface in the
    # DSL. The estimate itself cannot be cross-engine hash-exact (Spark
    # HLL++ vs DuckDB HLL produce different numbers), so the key's
    # emission is the CONTRACT, not the estimate: per event_type the
    # exact distinct-user count plus a boolean pinning |approx − exact|
    # ≤ 5%·exact — each engine checks its OWN sketch against its OWN
    # exact count (Spark rsd 0.01 → expected error well inside the 5%
    # band; DuckDB's default HLL likewise, probed ≤1.7% on every
    # fixture group at all three SFs). The boolean spelling needs the
    # M24 comparison expressions ($lte over column-vs-column, which
    # $if's predicate syntax cannot spell). Tolerance uses abs-gap ≤
    # 0.05·exact rather than a ratio so the 0-distinct group (all-NULL
    # users in a group: 0 ≤ 0) never divides by zero. The estimate's
    # tightness + run-to-run determinism are pinned locally in
    # tests/test_sketches.py.
    #
    # ADVICE r15 — environmental sensitivity, for future diagnosis: the
    # oracle's sketch_ok depends on DuckDB's OWN HLL staying inside the
    # 5% band on every fixture group (probed ≤1.7% at all three SFs on
    # duckdb 1.x in this container). A DuckDB version bump that changes
    # its sketch could flip the contract boolean WITHOUT any repo
    # change — if this key alone goes red after an environment change,
    # suspect the fixture engine, not a regression; the fix is widening
    # the band to the M26 greatest(rel·exact, abs-floor) shape on both
    # sides.
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
             <= 0.05 * count(DISTINCT user_id) AS sketch_ok
    FROM events
    GROUP BY 1
    """,
)
def compiler_approx_count_distinct(spark, sf_dir):
    """Scale shape: HLL++ register state is CONSTANT per group (2^p
    registers) regardless of input size, combines map-side, and merges
    across shards by register max — at 100 TB the exchange carries
    sketches, never rows, which is why the sketch is what a user
    reaches for first. One partial+final hash-agg pair; the exact
    count_distinct rides the same aggregate (expand) for the contract
    column."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "events": {
                "$groupby": ["event_type"],
                "$agg": {
                    "n_exact": {"$count_distinct": "user_id"},
                    "sketch_ok": {
                        "$approx_count_distinct": ["user_id", 0.01]
                    },
                },
                "$derive": {
                    "sketch_ok": {"$lte": [
                        {"$abs": {"$sub": ["sketch_ok", "n_exact"]}},
                        {"$mul": [0.05, "n_exact"]},
                    ]}
                },
            }
        }
    )


@query(
    "compiler_approx_percentile",
    # Round-15 M24 registration (quantile sketch): $approx_percentile
    # at accuracy 10^7 ≥ n at every SF — the sketch's EXACT regime
    # (rank error ≤ n/accuracy < 1), where Spark's percentile_approx
    # is probed bit-identical to DuckDB's quantile_disc including
    # even/odd counts, ties, single-row, NULL-skipping and all-NULL →
    # NULL. The production knob is the same code path: at 100 TB a
    # user dials accuracy down and the state stays O(accuracy) per
    # group while this key's oracle discipline pins the semantics.
    # o_totalprice is DECIMAL(12,2): the discrete quantile is an
    # element of the column, so the double emission is exact (§7.3).
    oracle="""
    SELECT o_orderpriority,
           CAST(quantile_disc(o_totalprice, 0.5) AS DOUBLE) AS p50_price,
           CAST(quantile_disc(o_totalprice, 0.9) AS DOUBLE) AS p90_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def compiler_approx_percentile(spark, sf_dir):
    """Scale shape: the quantile sketch holds O(accuracy) values per
    group, merges across partitions, and never sorts the input — one
    partial+final aggregate pair vs the full-sort exact quantile. Two
    fractions ride ONE sketch build per group."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "orders": {
                "$groupby": ["o_orderpriority"],
                "$agg": {
                    "p50_price": {
                        "$approx_percentile":
                            ["o_totalprice", 0.5, 10000000]
                    },
                    "p90_price": {
                        "$approx_percentile":
                            ["o_totalprice", 0.9, 10000000]
                    },
                    "n_orders": {"$count": True},
                },
                "$derive": {
                    "p50_price": {"$cast": ["p50_price",
                                            {"$lit": "double"}]},
                    "p90_price": {"$cast": ["p90_price",
                                            {"$lit": "double"}]},
                },
            }
        }
    )


@query(
    "compiler_scalar_correlated",
    # Round-15 M25 registration: the CORRELATED $scalar form (VERDICT
    # r14 item 5 resolved by implementation) — the TPC-H Q17 shape:
    # lineitems below HALF THEIR OWN PART's mean quantity, rolled up
    # per return flag. Determinism at the comparison boundary (§7.3):
    # l_quantity is integer-valued double, so sum is EXACT in double in
    # any order, avg = one IEEE division (identical both engines), and
    # ×0.5 is a power-of-two scale (exact) — the per-group threshold is
    # bit-identical cross-engine, so the qualifying row SET is stable
    # (the scalar_threshold precedent, extended to per-group floats).
    # Money under the exact-DECIMAL discipline.
    oracle="""
    SELECT l.l_returnflag,
           count(*) AS n_items,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem l
    WHERE l.l_quantity < (SELECT 0.5 * avg(li.l_quantity)
                          FROM lineitem li
                          WHERE li.l_partkey = l.l_partkey)
    GROUP BY 1
    """,
)
def compiler_scalar_correlated(spark, sf_dir):
    """Scale shape: the classic decorrelation — the inner per-part mean
    is ONE partial+final hash-agg pair, the comparison rides ONE
    equi-join on l_partkey (AQE-broadcastable; group keys unique post-
    aggregate so the join can never fan out), then the rollup re-uses
    the partial-agg machinery. The plan never contains a per-row
    subquery, a nested loop, or Python (plan pinned)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "lineitem": {
                "$filter": {"l_quantity": {"$lt": {"$scalar": {
                    "lineitem": {
                        "$groupby": ["l_partkey"],
                        "$agg": {"t": {"$avg": "l_quantity"}},
                        "$derive": {"t": {"$mul": [0.5, "t"]}},
                    },
                    "$on": {"l_partkey": "l_partkey"},
                }}}},
                "$select": {
                    "l_returnflag": "l_returnflag",
                    "ep": {"$cast": ["l_extendedprice",
                                     {"$lit": "decimal(12,2)"}]},
                },
                "$groupby": ["l_returnflag"],
                "$agg": {
                    "n_items": {"$count": True},
                    "sum_price": {"$sum": "ep"},
                },
                "$derive": {
                    "sum_price": {"$cast": ["sum_price",
                                            {"$lit": "double"}]}
                },
            }
        }
    )


@query(
    "compiler_stream_approx_distinct",
    # Round-15 M26 registration: the streaming count-distinct. Exact
    # distinct aggregates are unsupported in Structured Streaming —
    # the HLL++ sketch IS the streaming spelling ($approx_count_distinct
    # joins the $stream agg subset): registers merge across
    # micro-batches in the state store, and because register max is
    # commutative the estimate is batch-boundary-invariant (replay-
    # deterministic). Emission is the M24 contract shape: the
    # streamed estimate is verified per (hour-window × event_type)
    # against the BATCH exact count (null-safe on the type key so NULL
    # groups survive the verification join). Unlike the global-group
    # M24 key, per-window groups are TINY (exact 16-40 at sf0.1) where
    # HLL quantization is O(1) ABSOLUTE (measured: Spark ≤1, DuckDB ≤2
    # on every fixture group) — a pure 5%-relative band is the wrong
    # statistic there, so the contract is |approx − exact| ≤
    # greatest(5%·exact, 5): relative governs large groups, the
    # absolute floor covers the quantization regime. Hash-exact
    # driver signal despite the approximate op.
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
           event_type,
           count(DISTINCT user_id) AS n_exact,
           abs(approx_count_distinct(user_id)
               - count(DISTINCT user_id))
             <= greatest(0.05 * count(DISTINCT user_id), 5) AS sketch_ok
    FROM events
    GROUP BY 1, 2
    """,
)
def compiler_stream_approx_distinct(spark, sf_dir):
    """Scale shape: per-(window × type) state is a CONSTANT HLL
    register set — the streaming distinct-user rollup at 100 TB/day
    carries sketches through the state store, never user sets; the
    batch verification join is fixture-side evidence, not part of the
    production stream (which emits the estimate directly)."""
    from pyspark.sql import functions as F

    from naqed_spark.compiler.engine import Engine
    from naqed_spark.queries._util import load

    eng = Engine(spark, sf_dir)
    s = eng.query({"$stream": {
        "$source": "events",
        "$window": {"$size": "1 hour"},
        "$groupby": ["event_type"],
        "$agg": {"n_approx": {"$approx_count_distinct":
                              ["user_id", 0.01]}},
    }})
    ev = load(spark, sf_dir, "events")
    exact = ev.groupBy(
        F.unix_micros(F.date_trunc("hour", "ts")).alias("w"),
        F.col("event_type").alias("et"),
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        s.join(exact, (s.win_start_us == exact.w)
               & s.event_type.eqNullSafe(exact.et), "inner")
        .select(
            "win_start_us", "event_type", "n_exact",
            (F.abs(F.col("n_approx") - F.col("n_exact"))
             <= F.greatest(0.05 * F.col("n_exact"), F.lit(5.0)))
            .alias("sketch_ok"),
        )
    )


@query(
    "compiler_stream_approx_percentile",
    # Round-15 M27 registration: the streaming quantile —
    # $approx_percentile joins the $stream agg subset (exact
    # $median/$percentile stay batch-only: exact quantiles need the
    # full sorted set, where the sketch's merge-able summaries are
    # state-store material). At accuracy 10^7 ≥ any per-group n the
    # merged sketch is in its EXACT regime, so the streamed median per
    # (hour-window × event_type) is bit-identical to DuckDB's
    # quantile_disc batch twin (the M24 exact-regime discipline —
    # element-of-the-set emission, stored doubles pass through
    # bit-safe, no float path).
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
           event_type,
           CAST(quantile_disc(value, 0.5) AS DOUBLE) AS p50_value,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def compiler_stream_approx_percentile(spark, sf_dir):
    """Scale shape: per-(window × type) state is the quantile sketch's
    O(accuracy) summary — merge-able across micro-batches, never the
    raw value set; at production scale the accuracy knob trades state
    for rank error (≤ n/accuracy) while this key's exact-regime oracle
    pins the semantics."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"$stream": {
        "$source": "events",
        "$window": {"$size": "1 hour"},
        "$groupby": ["event_type"],
        "$agg": {
            "p50_value": {"$approx_percentile":
                          ["value", 0.5, 10000000]},
            "n_events": {"$count": True},
        },
    }})



@query(
    "compiler_approx_percentile_multi",
    # Round-15 M28 registration: multi-fraction $approx_percentile —
    # the typical production ask (quartiles + tail) reads EVERY
    # quantile from ONE sketch build instead of one sketch per
    # fraction; emission is an array in fraction order. Exact-regime
    # discipline (M24): accuracy 10^7 ≥ n at every SF, each element ≡
    # DuckDB quantile_disc at that fraction. The driver's pandas
    # canonicalizer cannot sort collection columns (the registry-wide
    # no-collection rule), so the key serializes per the established
    # discipline — integer CENTS (floor(q·100 + 0.5), the repo's
    # half-up money quantizer: identical on both engines, no float
    # rendering in the hash path) joined with ','.
    oracle="""
    SELECT o_orderstatus,
           array_to_string(
             list_transform(
               quantile_disc(o_totalprice, [0.25, 0.5, 0.75, 0.99]),
               q -> CAST(CAST(floor(q * 100 + 0.5) AS BIGINT)
                         AS VARCHAR)),
             ',') AS quartile_cents,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def compiler_approx_percentile_multi(spark, sf_dir):
    """Scale shape: one O(accuracy)-state sketch per group serves all
    four fractions — one partial+final aggregate pair, no per-fraction
    re-aggregation, never a sort. The cents serialization is a
    zero-shuffle post-projection (the stream_approx_distinct precedent:
    raw-PySpark post-processing AROUND the DSL frame is fixture-side
    emission discipline, not engine surface)."""
    from pyspark.sql import functions as F

    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    df = eng.query(
        {
            "orders": {
                "$groupby": ["o_orderstatus"],
                "$agg": {
                    "price_quartiles": {"$approx_percentile": [
                        "o_totalprice", [0.25, 0.5, 0.75, 0.99],
                        10000000,
                    ]},
                    "n_orders": {"$count": True},
                },
            }
        }
    )
    return df.select(
        "o_orderstatus",
        F.array_join(
            F.transform(
                "price_quartiles",
                lambda q: F.floor(q * 100 + F.lit(0.5))
                .cast("bigint").cast("string"),
            ),
            ",",
        ).alias("quartile_cents"),
        "n_orders",
    )


@query(
    "compiler_calendar_parts",
    # Round-16b M36 registration: the calendar part-extraction verbs —
    # $hour/$minute/$second/$quarter/$week/$doy/$dow_iso/$epoch_us —
    # exercised together as a seasonality grid over the events stream.
    # Every part probed bit-identical across engines on adversarial
    # timestamps (midnight, end-of-year fractional seconds, leap day,
    # NULL) under the pinned UTC session: $second truncates fractions
    # on both, $week is ISO on both, $dow_iso = Spark weekday()+1 ≡
    # DuckDB isodow (Spark's Sunday-based dayofweek() deliberately
    # unused). Aggregate types pinned: Spark $count/$sum(int) → BIGINT
    # (DuckDB casts its HUGEINT sum), part mins/maxes → INT.
    oracle="""
    SELECT CAST(quarter(ts) AS INT) AS q,
           CAST(isodow(ts) AS INT) AS dow,
           count(*) AS n,
           CAST(min(hour(ts)) AS INT) AS hr_min,
           CAST(max(hour(ts)) AS INT) AS hr_max,
           CAST(max(weekofyear(ts)) AS INT) AS wk_max,
           CAST(min(dayofyear(ts)) AS INT) AS doy_min,
           max(epoch_us(ts)) AS us_max,
           CAST(sum(CAST(minute(ts) AS INT)
                    * 60 + CAST(second(ts) AS INT)) AS BIGINT)
             AS in_hour_s
    FROM events
    GROUP BY 1, 2
    """,
)
def compiler_calendar_parts(spark, sf_dir):
    """Scale shape: every part is a codegen timestamp intrinsic on the
    scan (zero Python, zero fan-out), so the whole key is one partial+
    final hash-aggregate pair on a low-cardinality (quarter × isodow)
    grid — the partial side collapses each scan partition to <= 28
    rows before the exchange."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"events": {
        "$select": {
            "q": {"$quarter": "ts"},
            "dow": {"$dow_iso": "ts"},
            "hr": {"$hour": "ts"},
            "wk": {"$week": "ts"},
            "doy": {"$doy": "ts"},
            "us": {"$epoch_us": "ts"},
            "in_hour": {"$add": [{"$mul": [{"$minute": "ts"}, 60]},
                                 {"$second": "ts"}]},
        },
        "$groupby": ["q", "dow"],
        "$agg": {
            "n": {"$count": True},
            "hr_min": {"$min": "hr"},
            "hr_max": {"$max": "hr"},
            "wk_max": {"$max": "wk"},
            "doy_min": {"$min": "doy"},
            "us_max": {"$max": "us"},
            "in_hour_s": {"$sum": "in_hour"},
        },
    }})


@query(
    "compiler_math_scalar",
    # Round-16b M37 registration: the numeric verb family — $floor/
    # $ceil (BIGINT emission), $sign (INT), $sqrt (IEEE-exact, NULL
    # pinned on negatives: DuckDB errors where Spark NaNs), $pow/$ln
    # (libm-class, emitted under the §7.3 round(6) hedge). Operands
    # are lowered to DOUBLE before the function on both sides so
    # decimal-width arithmetic can never skew the input (the probe
    # lesson); the fixture columns are already DOUBLE so the oracle
    # needs no cast. Probed: zero bit mismatches for floor/ceil/sign/
    # sqrt/pow over the 600k-row sf0.1 lineitem domain.
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_fl,
           CAST(ceil(l_discount * 10.0) AS BIGINT) AS disc_decile,
           CAST(sign(l_discount - 0.05) AS INT) AS disc_side,
           sqrt(l_quantity) AS qty_rt,
           round(pow(l_quantity, 2.0), 6) AS qty_sq,
           round(ln(l_extendedprice), 6) AS price_ln
    FROM lineitem
    """,
)
def compiler_math_scalar(spark, sf_dir):
    """Scale shape: six codegen math intrinsics on the scan — a pure
    zero-exchange projection (the 100 TB feature-engineering pass
    shape); no Python, no shuffle, filters N/A."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"lineitem": {
        "l_orderkey": True,
        "l_linenumber": True,
        "$select": {
            "price_fl": {"$floor": "l_extendedprice"},
            "disc_decile": {"$ceil": {"$mul": ["l_discount", 10.0]}},
            "disc_side": {"$sign": {"$sub": ["l_discount", 0.05]}},
            "qty_rt": {"$sqrt": "l_quantity"},
            "qty_sq": {"$round": [{"$pow": ["l_quantity", 2.0]}, 6]},
            "price_ln": {"$round": [{"$ln": "l_extendedprice"}, 6]},
        },
    }})


@query(
    "compiler_array_hof",
    # Round-16b M34 registration: array higher-order verbs over a
    # text-token pipeline — $split fans the document into words, then
    # $array_filter (boolean lambda over '$x'), $array_transform
    # (scalar lambda), $slice, $array_distinct (sorted-non-NULL
    # contract), $array_contains (NULL-array → NULL, else TRUE/FALSE
    # with NULL elements ignored) and the NULL-pinned $size compose
    # without ever leaving the array domain. NULL text rides through
    # every verb as NULL (probed; the $size NULL pin landed with this
    # key — Spark's size(NULL) = -1 legacy is live in this config).
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           len(list_filter(string_split(text, ' '),
                           x -> length(x) > 5)) AS n_long,
           list_aggregate(list_transform(
               list_slice(string_split(text, ' '), 1, 3),
               x -> upper(x)), 'string_agg', '|') AS head_up,
           CASE WHEN text IS NULL THEN NULL
                ELSE coalesce(list_contains(string_split(text, ' '),
                                            'the'), FALSE) END
             AS has_the,
           len(list_distinct(string_split(text, ' '))) AS n_uniq
    FROM documents
    """,
)
def compiler_array_hof(spark, sf_dir):
    """Scale shape: every verb is a JVM HOF / array intrinsic inside
    ONE codegen projection on the scan — no Python, no shuffle, no
    explode fan-out (the array never leaves the row), which is the
    shape a 100 TB token-statistics pass must have.

    Oracle notes: DuckDB's list_aggregate(string_agg) joins like
    Spark's array_join; list_distinct drops NULLs and its count
    matches the sorted-non-NULL $array_distinct contract ($size of);
    both splits keep empty trailing fields."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    words = {"$split": ["text", {"$lit": " "}]}
    return eng.query({"documents": {
        "doc_id": True,
        "$select": {
            "n_words": {"$size": words},
            "n_long": {"$size": {"$array_filter": [
                words, {"$gt": [{"$length": "$x"}, 5]}]}},
            "head_up": {"$array_join": [
                {"$array_transform": [{"$slice": [words, 1, 3]},
                                      {"$upper": "$x"}]},
                {"$lit": "|"}]},
            "has_the": {"$array_contains": [words, {"$lit": "the"}]},
            "n_uniq": {"$size": {"$array_distinct": words}},
        },
    }})


@query(
    "compiler_array_vector",
    # Round-16b M34 companion: the numeric array verbs over the
    # embeddings fixture — $array_sum (skip-NULL left fold in DOUBLE,
    # probed bit-identical against DuckDB's list_sum on the real
    # float vectors), $array_min/$array_max (exact), $slice + fold
    # composition (prefix energy), plus a lambda transform feeding the
    # fold ($array_sum of squared elements = the vector's energy).
    oracle="""
    SELECT vec_id, label,
           CASE WHEN embedding IS NULL THEN NULL
                ELSE coalesce(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE))), 0.0) END AS vsum,
           CAST(list_min(embedding) AS DOUBLE) AS vmin,
           CAST(list_max(embedding) AS DOUBLE) AS vmax,
           CASE WHEN embedding IS NULL THEN NULL
                ELSE coalesce(list_sum(list_transform(
                     list_slice(embedding, 1, 8),
                     x -> CAST(x AS DOUBLE))), 0.0) END AS head8,
           CASE WHEN embedding IS NULL THEN NULL
                ELSE coalesce(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                     0.0) END AS energy
    FROM embeddings
    """,
)
def compiler_array_vector(spark, sf_dir):
    """Scale shape: one codegen projection — the folds are JVM
    `aggregate` HOFs in array order (the deterministic IEEE754
    sequence both engines walk), zero shuffle, zero Python; the
    float→double element casts are exact so no rounding hedge is
    needed (probed bit-identical at every SF)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"embeddings": {
        "vec_id": True,
        "label": True,
        "$select": {
            "vsum": {"$array_sum": "embedding"},
            "vmin": {"$cast": [{"$array_min": "embedding"},
                               {"$lit": "double"}]},
            "vmax": {"$cast": [{"$array_max": "embedding"},
                               {"$lit": "double"}]},
            "head8": {"$array_sum": {"$slice": ["embedding", 1, 8]}},
            # the lambda casts the float element to DOUBLE before
            # squaring — float*float would round the product to float
            # precision where the DuckDB twin multiplies doubles
            "energy": {"$array_sum": {"$array_transform": [
                "embedding",
                {"$mul": [{"$cast": ["$x", {"$lit": "double"}]},
                          {"$cast": ["$x", {"$lit": "double"}]}]}]}},
        },
    }})


@query(
    "compiler_from_agg_of_agg",
    # Round-16b M35 registration: $from derived-table composition —
    # the two-level aggregation no single spec could spell before
    # (inner: per-customer spend across the orders hop; outer: segment
    # stats OVER those per-customer aggregates). Money discipline
    # (§7.3) at both levels: inner sums exact DECIMAL and emits double
    # at its boundary; the outer re-casts that double to DECIMAL
    # (exact — the double IS a 2-dec value) so the second-level sum is
    # order-independent too; avg is ONE division of bit-identical
    # doubles, so it needs no rounding hedge.
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_cust,
           CAST(sum(CAST(spend AS DECIMAL(14,2))) AS DOUBLE) AS total,
           CAST(max(CAST(spend AS DECIMAL(14,2))) AS DOUBLE) AS top,
           CAST(sum(CAST(spend AS DECIMAL(14,2))) AS DOUBLE)
             / count(*) AS avg_spend
    FROM (
        SELECT c.c_custkey, c.c_mktsegment,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2)))
                    AS DOUBLE) AS spend
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
    GROUP BY c_mktsegment
    """,
)
def compiler_from_agg_of_agg(spark, sf_dir):
    """Scale shape: Catalyst fuses the composition into ONE plan — the
    inner (c_custkey × segment) hash-agg pair, then the outer segment
    hash-agg pair REUSING the already-partial rows (no materialization
    barrier at the $from seam; the outer's column pruning reaches the
    inner scan). Two exchanges total, both carrying accumulators."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({
        "$from": {"customer": {
            "c_custkey": True,
            "c_mktsegment": True,
            "orders": {"o_totalprice": True},
            "$select": {"price_dec": {"$cast": [
                "o_totalprice", {"$lit": "decimal(12,2)"}]}},
            "$groupby": ["c_custkey", "c_mktsegment"],
            "$agg": {"spend": {"$sum": "price_dec"}},
            "$derive": {"spend": {"$cast": ["spend",
                                            {"$lit": "double"}]}},
        }},
        "c_mktsegment": True,
        "$select": {"spend_dec": {"$cast": ["spend",
                                            {"$lit": "decimal(14,2)"}]}},
        "$groupby": ["c_mktsegment"],
        "$agg": {
            "n_cust": {"$count": True},
            "total": {"$sum": "spend_dec"},
            "top": {"$max": "spend_dec"},
        },
        "$derive": {
            "total": {"$cast": ["total", {"$lit": "double"}]},
            "top": {"$cast": ["top", {"$lit": "double"}]},
            "avg_spend": {"$div": ["total", "n_cust"]},
        },
    })


@query(
    "compiler_from_unpivot_filter",
    # Round-16b M35 companion: the documented $where/$unpivot gap
    # closed verbatim — "$where filters the pre-$unpivot frame; to
    # filter the long form, chain a second query over this result" is
    # now spellable IN the DSL: inner unpivots (quantity, price) to
    # (measure, val) long form, the OUTER query filters the long rows
    # and aggregates per measure. Long sums re-cast the double value
    # column to exact DECIMAL (both source measures are 2-dec values,
    # so the cast is lossless) — order-independent at any scale.
    oracle="""
    SELECT measure,
           count(*) AS n_rows,
           CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (
        SELECT l_orderkey, 'qty' AS measure,
               CAST(l_quantity AS DOUBLE) AS val FROM lineitem
        UNION ALL
        SELECT l_orderkey, 'price' AS measure,
               CAST(l_extendedprice AS DOUBLE) AS val FROM lineitem
    )
    WHERE val > 30.0
    GROUP BY measure
    """,
)
def compiler_from_unpivot_filter(spark, sf_dir):
    """Scale shape: the inner stack() is a zero-shuffle codegen
    Generate; the outer's val filter applies STREAMING right after the
    Generate (inside the same stage — no materialization at the $from
    seam), and the only exchange is the 2-group measure hash-agg pair
    carrying accumulators."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({
        "$from": {"lineitem": {
            "l_orderkey": True,
            "$select": {"qty": "l_quantity", "price": "l_extendedprice"},
            "$unpivot": {"$cols": ["qty", "price"],
                         "$name": "measure", "$value": "val"},
        }},
        "measure": True,
        "$filter": {"val": {"$gt": 30.0}},
        "$select": {"val_dec": {"$cast": ["val", {"$lit": "decimal(18,2)"}]}},
        "$groupby": ["measure"],
        "$agg": {
            "n_rows": {"$count": True},
            "total": {"$sum": "val_dec"},
        },
        "$derive": {"total": {"$cast": ["total", {"$lit": "double"}]}},
    })


@query(
    "compiler_string_search_pad",
    # Round-16b M38 registration: the string search/pad/shape verbs —
    # $lpad/$rpad (pad AND truncate-to-n, probed), $left/$right
    # (over-length take = whole string), $reverse, $repeat, and the
    # plain-substring predicates $contains/$starts_with/$ends_with
    # (never regex — that's $regex_like) + $strpos (1-based, 0 when
    # absent ≡ DuckDB strpos). NULL text → NULL on every verb,
    # three-valued booleans ride to the emission.
    oracle="""
    SELECT doc_id,
           lpad(left(lang, 2), 5, '*') AS padded,
           rpad(lang, 4, '-') AS rpadded,
           reverse(right(text, 12)) AS tail_rev,
           repeat(left(lang, 1), 3) AS lll,
           contains(text, 'data') AS has_data,
           starts_with(text, 'The') AS the_start,
           ends_with(text, '.') AS dot_end,
           CAST(strpos(text, 'a') AS INT) AS first_a
    FROM documents
    """,
)
def compiler_string_search_pad(spark, sf_dir):
    """Scale shape: nine codegen string intrinsics in ONE projection on
    the scan — zero Python, zero exchange (the text-normalization pass
    shape)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"documents": {
        "doc_id": True,
        "$select": {
            "padded": {"$lpad": [{"$left": ["lang", 2]}, 5,
                                 {"$lit": "*"}]},
            "rpadded": {"$rpad": ["lang", 4, {"$lit": "-"}]},
            "tail_rev": {"$reverse": {"$right": ["text", 12]}},
            "lll": {"$repeat": [{"$left": ["lang", 1]}, 3]},
            "has_data": {"$contains": ["text", {"$lit": "data"}]},
            "the_start": {"$starts_with": ["text", {"$lit": "The"}]},
            "dot_end": {"$ends_with": ["text", {"$lit": "."}]},
            "first_a": {"$strpos": ["text", {"$lit": "a"}]},
        },
    }})


@query(
    "compiler_date_arith",
    # Round-16b M38 companion: DATE arithmetic — $date_add/$date_sub
    # day steps, $add_months (end-of-month clamping probed identical:
    # Jan 31 + 1 month = Feb 29 on leap years in BOTH), $last_day, and
    # a composition with $datediff (days to month end). DATE-operand
    # contract (a timestamp operand diverges — Spark truncates to
    # DATE, DuckDB stays timestamp; $cast first).
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + 30 AS due,
           CAST(o_orderdate AS DATE) - 7 AS early,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
             AS q_next,
           last_day(CAST(o_orderdate AS DATE)) AS eom,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                last_day(CAST(o_orderdate AS DATE))) AS INT)
             AS eom_slack
    FROM orders
    """,
)
def compiler_date_arith(spark, sf_dir):
    """Scale shape: five codegen date intrinsics in one projection on
    the scan — zero exchange."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"orders": {
        "o_orderkey": True,
        "$select": {
            "due": {"$date_add": [{"$cast": ["o_orderdate",
                                             {"$lit": "date"}]}, 30]},
            "early": {"$date_sub": [{"$cast": ["o_orderdate",
                                               {"$lit": "date"}]}, 7]},
            "q_next": {"$add_months": [{"$cast": ["o_orderdate",
                                                  {"$lit": "date"}]}, 3]},
            "eom": {"$last_day": {"$cast": ["o_orderdate",
                                            {"$lit": "date"}]}},
            "eom_slack": {"$datediff": [
                {"$last_day": {"$cast": ["o_orderdate",
                                         {"$lit": "date"}]}},
                {"$cast": ["o_orderdate", {"$lit": "date"}]}]},
        },
    }})


@query(
    "compiler_bool_distinct_agg",
    # Round-16b M38 registration: boolean + distinct aggregates —
    # $bool_and/$bool_or (NULL-skipping, probed ≡ DuckDB), $count_if
    # (TRUE rows only ≡ count FILTER), $sum_distinct/$avg_distinct
    # over the distinct value set. The boolean input is an M24
    # comparison expression; the distinct inputs are INT-cast
    # quantities so the distinct-set arithmetic is exact on both
    # engines (the doc'd double-input caveat doesn't apply).
    oracle="""
    SELECT l_returnflag, l_linestatus,
           bool_and(l_quantity > 25.0) AS all_heavy,
           bool_or(l_quantity > 45.0) AS any_vheavy,
           CAST(count(*) FILTER (WHERE l_quantity > 25.0) AS BIGINT)
             AS n_heavy,
           CAST(sum(DISTINCT CAST(l_quantity AS INT)) AS BIGINT)
             AS qty_dsum,
           avg(DISTINCT CAST(l_quantity AS INT)) AS qty_davg
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def compiler_bool_distinct_agg(spark, sf_dir):
    """Scale shape: the boolean aggs and count_if are plain
    accumulator aggregates (partial+final pair, map-side combined);
    the DISTINCT pair costs the standard two-phase distinct expansion
    Spark plans for mixed distinct/non-distinct aggregates — the
    expand carries (flag × status × qty) triples, still accumulators,
    never rows."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"lineitem": {
        "$select": {
            "heavy": {"$gt": ["l_quantity", 25.0]},
            "vheavy": {"$gt": ["l_quantity", 45.0]},
            "qty_i": {"$cast": ["l_quantity", {"$lit": "int"}]},
        },
        "$groupby": ["l_returnflag", "l_linestatus"],
        "$agg": {
            "all_heavy": {"$bool_and": "heavy"},
            "any_vheavy": {"$bool_or": "vheavy"},
            "n_heavy": {"$count_if": "heavy"},
            "qty_dsum": {"$sum_distinct": "qty_i"},
            "qty_davg": {"$avg_distinct": "qty_i"},
        },
    }})


@query(
    "compiler_in_query_membership",
    # Round-16b M39 registration: membership vs a SUBQUERY result —
    # {col: {"$in_query"/"$not_in_query": {<spec>}}} lowered to LEFT
    # SEMI / LEFT ANTI joins on the subquery's single output column.
    # NULL semantics pinned to the join forms ≡ EXISTS / NOT EXISTS
    # (deliberately NOT SQL's NOT IN NULL trap — one NULL inner value
    # would empty a NOT IN; the anti join stays stable), which is why
    # the oracle twin spells NOT EXISTS, never NOT IN. The key
    # combines both ops on one column: high-value customers (semi)
    # who have no pending order (anti).
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_totalprice > 200000.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c_custkey
                        AND o.o_orderstatus = 'P')
    """,
)
def compiler_in_query_membership(spark, sf_dir):
    """Scale shape: two hash joins (semi then anti) over the scan —
    the subquery results never visit the driver (no collected IN
    list), AQE broadcasts each build side when the filtered key set
    is small, and the pushed o_totalprice/o_orderstatus filters
    bound both build sides before the exchange."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"customer": {
        "c_custkey": True, "c_name": True, "c_mktsegment": True,
        "$filter": {"c_custkey": {
            "$in_query": {"orders": {
                "o_custkey": True,
                "$filter": {"o_totalprice": {"$gt": 200000.0}}}},
            "$not_in_query": {"orders": {
                "o_custkey": True,
                "$filter": {"o_orderstatus": "P"}}},
        }},
    }})


@query(
    "compiler_set_bag_ops",
    # Round-16b M40 registration: bag-semantics set operators —
    # $intersect_all (multiplicities min) / $except_all
    # (multiplicities subtract), the DSL spelling of the raw
    # set_intersect_all/set_except_all twins, nested one inside the
    # other: F-order custkeys EXCEPT ALL (high-value ∩all urgent
    # custkeys). Bag semantics are the whole point: a customer with 3
    # F-orders and 1 urgent-high-value order keeps 2 copies.
    oracle="""
    SELECT k FROM (
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        EXCEPT ALL
        (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000.0
         INTERSECT ALL
         SELECT o_custkey AS k FROM orders
         WHERE o_orderpriority = '1-URGENT')
    )
    """,
)
def compiler_set_bag_ops(spark, sf_dir):
    """Scale shape: Spark plans INTERSECT ALL/EXCEPT ALL as
    partial-agg'd joins over (row, count) pairs — the exchanges carry
    one (key, count) accumulator per distinct row, never the bag
    itself; AQE sizes both."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"$except_all": [
        {"orders": {"$select": {"k": "o_custkey"},
                    "$filter": {"o_orderstatus": "F"}}},
        {"$intersect_all": [
            {"orders": {"$select": {"k": "o_custkey"},
                        "$filter": {"o_totalprice": {"$gt": 100000.0}}}},
            {"orders": {"$select": {"k": "o_custkey"},
                        "$filter": {"o_orderpriority": "1-URGENT"}}},
        ]},
    ]})


@query(
    "compiler_order_nulls",
    # Round-16b M40 companion: explicit NULL placement in $orderby —
    # [col, dir, nulls_first|nulls_last]. The key sorts a nullable
    # computed measure ASC NULLS LAST under a $limit: Spark's ASC
    # default is NULLS FIRST (the §7.3 header contract — opposite of
    # DuckDB's), so without the new triple the limit window would be
    # all-NULL rows; the explicit placement makes both engines select
    # the same smallest-non-NULL window. Unique-key tiebreak keeps the
    # limit deterministic.
    oracle="""
    SELECT v, k FROM (
        SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                    ELSE o_totalprice END AS v,
               o_orderkey AS k
        FROM orders
    ) ORDER BY v ASC NULLS LAST, k ASC LIMIT 100
    """,
)
def compiler_order_nulls(spark, sf_dir):
    """Scale shape: global ordered $limit compiles to
    TakeOrderedAndProject (per-partition top-100 heaps, single-pass
    merge at the driver) — never a full sort."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"orders": {
        "$select": {
            "v": {"$if": [{"o_orderstatus": "P"}, {"$lit": None},
                          "o_totalprice"]},
            "k": "o_orderkey",
        },
        "$orderby": [["v", "asc", "nulls_last"], ["k", "asc"]],
        "$limit": 100,
    }})


@query(
    "compiler_join_frames",
    # Round-16b M41 registration: ad-hoc equi-join of two QUERY
    # FRAMES — {"$join": {"$left"/"$right": spec, "$on": {...}}} —
    # the join naqed's resolver-graph model never spells (no catalog
    # FK edge needed). The key is an AGG-TO-AGG join: per-segment
    # order counts (left, across the orders hop) ⋈ per-segment
    # customer counts (right), deriving orders-per-customer — ONE
    # division of bit-identical BIGINTs, no rounding hedge needed.
    oracle="""
    SELECT a.c_mktsegment, a.n_orders, b.n_cust,
           a.n_orders / CAST(b.n_cust AS DOUBLE) AS orders_per_cust
    FROM (SELECT c_mktsegment, count(*) AS n_orders
          FROM customer JOIN orders ON o_custkey = c_custkey
          GROUP BY 1) a
    JOIN (SELECT c_mktsegment, count(*) AS n_cust
          FROM customer GROUP BY 1) b
      ON a.c_mktsegment = b.c_mktsegment
    """,
)
def compiler_join_frames(spark, sf_dir):
    """Scale shape: both sides are already-aggregated accumulator
    frames (5 rows each), so the join AQE-broadcasts; the expensive
    exchanges are the two upstream hash-agg pairs, both carrying
    accumulators. Right join-key columns drop from the emission
    (USING semantics)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({
        "$join": {
            "$left": {"$from": {"customer": {
                "c_mktsegment": True,
                "orders": {"o_orderkey": True},
                "$groupby": ["c_mktsegment"],
                "$agg": {"n_orders": {"$count": True}}}},
                "c_mktsegment": True, "n_orders": True},
            "$right": {"customer": {
                "c_mktsegment": True,
                "$groupby": ["c_mktsegment"],
                "$agg": {"n_cust": {"$count": True}}}},
            "$on": {"c_mktsegment": "c_mktsegment"},
            "$how": "inner",
        },
        "c_mktsegment": True, "n_orders": True, "n_cust": True,
        "$select": {"orders_per_cust": {"$div": [
            "n_orders", {"$cast": ["n_cust", {"$lit": "double"}]}]}},
    })


@query(
    "compiler_join_frames_full",
    # Round-16b M41 companion: FULL outer frame join with USING-style
    # key coalescing — per-customer P-order counts FULL JOIN
    # per-customer F-order counts on the customer key: a right-only
    # customer must surface its key (the engine coalesces the kept
    # key column), and each side's missing count is NULL.
    oracle="""
    SELECT coalesce(a.k, b.k2) AS k, a.np, b.nf
    FROM (SELECT o_custkey AS k, count(*) AS np FROM orders
          WHERE o_orderstatus = 'P' GROUP BY 1) a
    FULL JOIN (SELECT o_custkey AS k2, count(*) AS nf FROM orders
               WHERE o_orderstatus = 'F' GROUP BY 1) b
      ON a.k = b.k2
    """,
)
def compiler_join_frames_full(spark, sf_dir):
    """Scale shape: full hash join of two accumulator frames; the
    pushed status filters bound both sides before their agg
    exchanges."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({
        "$join": {
            "$left": {"orders": {
                "$select": {"k": "o_custkey"},
                "$filter": {"o_orderstatus": "P"},
                "$groupby": ["k"],
                "$agg": {"np": {"$count": True}}}},
            "$right": {"orders": {
                "$select": {"k2": "o_custkey"},
                "$filter": {"o_orderstatus": "F"},
                "$groupby": ["k2"],
                "$agg": {"nf": {"$count": True}}}},
            "$on": {"k": "k2"},
            "$how": "full",
        },
        "k": True, "np": True, "nf": True,
    })


@query(
    "compiler_ilike_filter",
    # Round-16b M42 registration: $ilike — case-insensitive LIKE in
    # the predicate DSL (Spark Column.ilike ≡ DuckDB ILIKE, probed
    # incl. %/_ wildcards; ASCII-domain case folding). The predicate
    # stays a scan-stage filter like $like/$regex — pushdown-shaped,
    # never a materialization boundary.
    oracle="""
    SELECT lang, count(*) AS n
    FROM documents
    WHERE text ILIKE '%the %'
    GROUP BY lang
    """,
)
def compiler_ilike_filter(spark, sf_dir):
    """Scale shape: ILike rides the scan stage's filter + one
    partial+final hash-agg pair on the tiny lang grid."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"documents": {
        "lang": True,
        "$filter": {"text": {"$ilike": "%the %"}},
        "$groupby": ["lang"],
        "$agg": {"n": {"$count": True}},
    }})


@query(
    "compiler_exists_query_corr",
    # Round-16b M43 registration: multi-key correlated EXISTS —
    # {"$exists_query": {"$query": spec, "$on": {inner: outer}}}
    # inside $filter: the ad-hoc generalization of the FK-hop $exists
    # (explicit correlation keys, no catalog edge) and of $in_query
    # (multi-column). The key is a SELF-correlation no hop can spell:
    # open orders whose (custkey, priority) pair also occurs among
    # FULFILLED orders — the repeat-buyer-at-same-priority signal.
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders o
    WHERE o.o_orderstatus = 'O'
      AND EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_orderstatus = 'F'
                    AND o2.o_custkey = o.o_custkey
                    AND o2.o_orderpriority = o.o_orderpriority)
    """,
)
def compiler_exists_query_corr(spark, sf_dir):
    """Scale shape: ONE hash left-semi join on the two correlation
    keys — the inner plan's status filter bounds the build side, the
    build is pruned to the $on columns before the exchange, and AQE
    broadcasts it when small. NULL keys never match (the EXISTS
    contract)."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query({"orders": {
        "o_orderkey": True, "o_custkey": True, "o_orderpriority": True,
        "$filter": {
            "o_orderstatus": "O",
            "$exists_query": {
                "$query": {"orders": {
                    "o_custkey": True, "o_orderpriority": True,
                    "$filter": {"o_orderstatus": "F"}}},
                "$on": {"o_custkey": "o_custkey",
                        "o_orderpriority": "o_orderpriority"},
            },
        },
    }})
