"""QuerySpec IR + parser.

Query shape (naqed-style, SURVEY.md §1.1/§3.2):

    {
      "customer": {                         # root entity
        "$filter": {"c_mktsegment": "BUILDING",
                     "c_acctbal": {"$gt": 1000}},
        "c_custkey": True,                  # request a field
        "c_name": True,
        "orders": {                          # relationship hop (join)
          "$filter": {"o_orderstatus": {"$in": ["O", "F"]}},
          "o_orderkey": True,
        },
        "$groupby": ["c_mktsegment"],
        "$agg": {"n_orders": {"$count": True},
                  "total": {"$sum": "o_totalprice"}},
        "$having": {"total": {"$gt": 1000.0}},
        "$orderby": [["total", "desc"]],
        "$limit": 10,
      }
    }

NULL ordering contract: ``$orderby`` and window ``$order`` inherit
Spark's defaults — NULLS FIRST ascending, NULLS LAST descending
(DuckDB's default is the opposite on ASC; SQL twins over nullable sort
columns must pin NULLS FIRST/LAST explicitly, §7.3). The DSL spellings
that RANK rows internally define NULL out of the ranking entirely
(round 11): stratified ``$sample`` excludes NULL-``$key`` rows (a
keyless row has no place in an md5-of-key-deterministic sample, and
tied NULLs would be a nondeterministic pick), and ``$asof`` never
matches through a NULL ordering value on either side (backward/forward
via their residuals' three-valued logic, nearest via explicit
isNotNull conjuncts).

Round-4 extensions (VERDICT r3 item 7):

    "$select": {"alias": <expr>}      # computed columns; <expr> is a column
                                      # name, a number, or {op: args} from
                                      # SELECT_OPS ({"$lit": v} for string
                                      # literals); computed before $agg so
                                      # groupby/agg/orderby can use them
    "orders": {"$collect": True, ...}  # re-nest: children become ONE sorted
                                      # array column per parent row (naqed's
                                      # array-of-children shape) instead of
                                      # the default join fan-out

Round-6 extensions (VERDICT r4 item 4 — the last naqed-translation
capability without a QuerySpec spelling):

    "$window": {"alias": {fn: params}}  # window functions; fn is one of
                                      # WINDOW_FNS, params carry $partition
                                      # (list, may be empty = global window),
                                      # $order (required for ranking/offset
                                      # fns), $of (input expression, for
                                      # offset/aggregate fns), $n ($ntile),
                                      # $offset/$default ($lag/$lead), and
                                      # $frame (["rows"|"range", lo, hi]
                                      # with "unbounded"/"current"/int
                                      # bounds, aggregates only)
    "$qualify": {pred...}             # post-window filter (SQL QUALIFY) —
                                      # same predicate syntax as $filter,
                                      # sees window aliases; the E1 spelling
                                      # of top-k-per-group
    "$cast" in $select                # [expr, {"$lit": "double|bigint|..."}]
    "$offset": n                      # pagination: skip n rows before
                                      # $limit; requires $orderby (an
                                      # unordered offset is nondeterministic)

Windows are computed AFTER $agg when both are present (SQL ordering), so a
window can rank aggregated rows; $qualify applies after windows.

Round-7 extensions (VERDICT r6 item 6 — set/subquery families):

    {"$union": [specA, specB, ...]}   # set ops at the TOP level: $union /
                                      # $intersect / $except (SQL DISTINCT
                                      # semantics; binary for intersect/
                                      # except) and $union_all; branches
                                      # are full query specs (nesting set
                                      # ops is allowed) and must emit the
                                      # same column names; sibling
                                      # $orderby/$limit/$offset apply after
                                      # the combine
    "orders": {"$exists": true, ...}   # EXISTS child predicate — sugar for
                                      # $how: left_semi (false → left_anti,
                                      # NOT EXISTS); the hop may carry a
                                      # $filter but cannot request fields.
                                      # An IN-subquery predicate is the
                                      # same spelling: $exists + child
                                      # $filter compiles to one left-semi
                                      # equi-join.
    {"$arg": "name"}                  # resolver-argument placeholder,
                                      # bound from Engine.query(spec,
                                      # params={...}) via bind_args()
                                      # BEFORE parsing — params carry data
                                      # only (scalars / scalar lists),
                                      # never spec structure.

Round-7 session-2 extensions:

    "$sample": {"$key": k, "$keep": n, "$buckets": b?}
                                      # deterministic md5-bucket sample of
                                      # the ROOT entity, applied at the scan
                                      # (sample-of-join = join-of-samples)
    "$if" in $select                  # [cond ($filter syntax), then, else] —
                                      # CASE WHEN as a spec node, nestable
    "$mod", "$md5" in $select         # modulo; md5 hex digest (the
                                      # deterministic shuffle/dedup key)
    {"$or": [branch, ...]} in $filter # disjunction: AND within a branch,
      (also $having / $qualify)       # OR across branches, nestable —
                                      # one Catalyst Or tree, pushdown-
                                      # eligible; branch predicates get the
                                      # same typed checks

Round-9 extension (VERDICT r8 item 8 — the last §2 join family with no
E1 spelling; no new §2 key: the registered join_asof/join_asof_nearest
remain the driver-checked contract and the compiler tests pin parity):

    "orders": {"$asof": {...}, ...}   # temporal rank-1 hop: match each
                                      # parent row to the ONE child row
                                      # nearest in time along the FK edge
                                      # — $left_on/$right_on (ordering
                                      # columns), $per (parent unique
                                      # key), $tiebreak (unique child
                                      # column), $strategy backward
                                      # (latest at-or-before, default) |
                                      # forward (earliest at-or-after) |
                                      # nearest (round 11: closest in
                                      # EITHER direction — |Δt| rank,
                                      # then earlier child time, then
                                      # tiebreak; the join_asof_nearest
                                      # contract). Optional $tolerance
                                      # (round 11): positive staleness
                                      # bound in ordering-column units
                                      # (µs for timestamps) — matches
                                      # farther away drop (INNER hop:
                                      # parents with only stale matches
                                      # fall out), and the bound rides
                                      # the join condition as a fan-out
                                      # prune (the join_asof_tolerance
                                      # contract). Compiles to equi-join
                                      # + residual + WindowGroupLimit
                                      # top-1 — never the full temporal
                                      # fan-out.
    "orders": {"$theta": [[l, op, r], ...]}  # residual non-equi join
                                      # conditions (op ∈ $eq/$ne/$lt/
                                      # $lte/$gt/$gte; l on the parent, r
                                      # on the child) ANDed onto the FK
                                      # equi-join — works with every $how
                                      # including $exists semi/anti. The
                                      # equi key keeps the join hash-
                                      # based; a pure cross theta is
                                      # deliberately not offered (the
                                      # no-cartesian plan budget).

Round-8 extensions:

    "$derive": {"alias": <expr>}      # POST-aggregation computed columns:
                                      # same expression DSL as $select but
                                      # evaluated after $agg/$having (sees
                                      # agg aliases); withColumn semantics —
                                      # a same-named alias REPLACES the
                                      # column (how an exact-decimal sum is
                                      # emitted as double, §7.3)
    "$json" in $select                # [col, {"$lit": "$.path"}] — JSON
                                      # field accessor (get_json_object ≡
                                      # DuckDB json_extract_string, NULL on
                                      # missing); extracted values group/
                                      # filter like any field
    {alias: {"$max_by": [val, ord]}}  # per-group argmax/argmin aggregates
      (and "$min_by") in $agg         # — order by a UNIQUE column or
                                      # accept engine-dependent ties (the
                                      # SQL arg_max contract)

Round-10 extensions (VERDICT r9 item 7's compiler capability; registered
as driver keys in round 11 — `compiler_pivot`, `compiler_unpivot`,
`compiler_sample_stratified`, each with a DuckDB oracle and a
ground-truth battery replay):

    "$pivot": {"$on": col,            # wide conditional aggregation:
               "$values": [v, ...],   # one output column per EXPLICIT
               "$agg": {op: col?}}    # value (at 100 TB an implicit
                                      # pivot pays an extra distinct
                                      # pass to discover columns — the
                                      # parser REQUIRES the value list).
                                      # Requires $groupby; one agg op
                                      # ($count/$sum/$avg/$min/$max);
                                      # $count cells coalesce to 0
                                      # (matching FILTER-count twins),
                                      # other aggs keep SQL NULL-on-
                                      # empty. Exclusive with $agg /
                                      # $window / $unpivot / $distinct;
                                      # $derive composes (post-pivot,
                                      # seeing keys + value columns).
                                      # Compiles to ONE conditional-
                                      # aggregate pass (single shuffle,
                                      # not Spark's two-phase .pivot);
                                      # value columns are aliased to
                                      # str(value) at the aggregate —
                                      # str() collisions (5 vs "5") and
                                      # collisions with $groupby names
                                      # are parse errors.
    "$unpivot": {"$cols": [c, ...],   # long form back out of wide
                 "$name": "measure",  # columns via stack(): one row per
                 "$value": "val"}     # (kept-cols, measure) pair, the
                                      # measure values cast to DOUBLE
                                      # (one typed value column). Kept
                                      # columns = the other requested/
                                      # computed columns. Exclusive
                                      # with $agg/$groupby/$window/
                                      # $pivot/$distinct.
    "$sample": {..., "$per": col}     # stratified mode: keep the $keep
                                      # rows per $per stratum ranked by
                                      # md5($key) with the $key tiebreak
                                      # (every stratum contributes the
                                      # same count regardless of skew —
                                      # the sample_stratified_hash
                                      # discipline; plans with
                                      # WindowGroupLimit). $buckets is
                                      # bucket-mode only and rejected
                                      # with $per. NULL $key rows are
                                      # EXCLUDED (md5(NULL) is NULL: a
                                      # keyless row would either win
                                      # every stratum nulls-first or be
                                      # a nondeterministic fully-tied
                                      # pick nulls-last; bucket mode
                                      # drops them identically); a NULL
                                      # $per value is its own stratum
                                      # (GROUP BY semantics).

Round-12 extensions (VERDICT r11 items 2-3 + ADVICE r11):

    "$rollup": true                   # subtotal grids over the $groupby
    "$cube": true                     # columns (SQL ROLLUP/CUBE): the
    "$grouping_sets": [[c...], ...]   # grid rows add per-prefix / per-
                                      # subset / per-listed-set subtotal
                                      # rows, rolled-up key columns NULL.
                                      # All three require $groupby + $agg,
                                      # one mode per query, exclusive with
                                      # $pivot/$unpivot/$distinct. Inside
                                      # $grouping_sets, [] is the grand
                                      # total and every set column must be
                                      # a $groupby column.
    {alias: {"$grouping": col}} in $agg  # 1 on subtotal rows where col is
                                      # rolled up, 0 where grouped — the
                                      # NULL-data disambiguator (SQL
                                      # GROUPING()); col must be a
                                      # $groupby column and a grouping
                                      # mode must be active.
    "$asof": {..., "$how": "left"}    # keep parents with no (in-
                                      # tolerance) match, child columns
                                      # NULL — the join_asof_tolerance
                                      # key's freshness contract; the
                                      # default "inner" drops them.
                                      # DATE ordering columns now lower
                                      # to epoch µs like timestamps, so
                                      # $tolerance is µs across temporal
                                      # types and mixed date/timestamp
                                      # pairs compare µs to µs.
    {alias: {"$stddev": col}} in $agg # statistical aggregates (driver
      (also $stddev_pop/$var/$var_pop # keys r13): sample/population
       /$median and                   # spread, interpolated median, and
       {"$percentile": [col, p]})     # quantile_cont-style percentile
                                      # at literal fraction p in [0, 1].

Round-13 extensions (SURVEY roadmap M12-M14; driver keys registered
round 13 after tri-SF pre-verification):

    {"$dot": [a, b]} in $select       # vector similarity over embedding
      (also $cosine / $euclidean)     # columns: each operand is an array
                                      # column name or a {"$lit": [nums]}
                                      # query vector; lowered to
                                      # zero-shuffle zip_with+aggregate
                                      # HOFs (no Python, no exchange).
                                      # NULL operand / length mismatch /
                                      # zero-norm cosine all emit NULL.
    {"$split": [s, {"$lit": sep}]}    # PLAIN-string split in $select:
      in $select                      # NULL in → NULL array; empty
                                      # trailing fields kept (both
                                      # engines); sep is a literal, not
                                      # a regex.
    "$explode": col |                 # array fan-out verb (M13): one
      {"$col": c, "$as": a?,          # row per element, the element
       "$pos": p?, "$how":            # column replacing the array in
       "inner"|"outer"}               # place ($as renames; $pos adds
                                      # the 0-based ordinal). inner
                                      # drops NULL/empty-array parents;
                                      # outer keeps them as one row with
                                      # NULL element (and NULL ordinal).
                                      # Lands after $select (a $split
                                      # result is explodable), before
                                      # $agg (exploded rows feed
                                      # aggregation); exclusive with
                                      # $pivot/$unpivot. Codegen
                                      # Generate — zero shuffle.
    "$where": {...}                   # post-projection row filter
                                      # (M14): the $filter predicate
                                      # DSL bound against the post-
                                      # $select/post-$explode frame —
                                      # computed and exploded columns
                                      # are filterable. Over scan-only
                                      # columns Catalyst pushes it down
                                      # like $filter. Runs BEFORE
                                      # $unpivot: predicates naming the
                                      # $unpivot name/value outputs are
                                      # rejected with a typed error —
                                      # filter the long form by
                                      # chaining a second query.
    {alias: {"$collect_list": col}}   # collection aggregates (M14):
      / {"$collect_set": col} in $agg # NULLs skipped (Spark collect_*;
                                      # oracles add FILTER non-NULL),
                                      # emission SORTED (§7.3 — the
                                      # only hashable contract for
                                      # shuffle-order-dependent lists).

Round-14 extension (M19 — the last naqed-model gap: resolver-graph
traversal to fixpoint as a query verb):

    "$traverse": {                    # unbounded/fixpoint reachability
      "$seeds": {pred...},            # $filter-style seed predicate
                                      # over the ROOT entity (required)
      "$via": [rel, rel, ...] |       # edge set: a relationship chain
      "$edges": {entity: {...}},      # returning to the root entity
                                      # type (resolver-chain spelling),
                                      # XOR a full sub-query spec (an
                                      # edge RESOLVER) emitting the two
                                      # id columns named by $src/$dst
                                      # (defaults "src"/"dst"; NULL
                                      # endpoints drop; no nested
                                      # $traverse)
      "$max_depth": n,                # optional hop bound; absent =
                                      # run to FIXPOINT (100-superstep
                                      # safety cap -> typed error with
                                      # a $max_depth hint; cycles are
                                      # handled by the visited
                                      # anti-join)
      "$weight": col,                 # M22 (round 14, engine-half):
                                      # edge-weight column in the
                                      # $edges result -> CHEAPEST-PATH
                                      # mode (frontier Bellman-Ford,
                                      # min total weight from any
                                      # seed, seeds cost 0; integer
                                      # weights in exact BIGINT;
                                      # NULL-weight edges drop;
                                      # parallel edges keep the
                                      # cheapest; non-negative weights
                                      # assumed -- a negative cycle
                                      # trips the superstep cap).
                                      # $edges mode only.
      "$as": "dist",                  # min-hop depth column (0 on
    }                                 # seeds; default "dist")
                                      # The traversal REPLACES the root
                                      # frame: $filter becomes a POST-
                                      # traversal filter and fields /
                                      # hops / $select / $agg see the
                                      # reached rows + depth column.
                                      # Root entity must have a single-
                                      # column PK (catalog); exclusive
                                      # with $sample. Compiles to the
                                      # §2-I DataFrame-Pregel loop:
                                      # per superstep one frontier ⋈
                                      # edges equi-join + distinct +
                                      # anti-join, localCheckpoint per
                                      # iter, O(1) pinned state.

Round-14 M20 extension (driver key compiler_json_keys_histogram
registered r14): JSON map introspection in $select —

    {"$json_keys": col}               # array of top-level object keys,
                                      # DOCUMENT order; NULL unless the
                                      # input is a valid JSON object
                                      # (from_json semantics; DuckDB
                                      # twins guard with json_valid +
                                      # json_type='OBJECT'); composes
                                      # with $explode / $size
    {"$json_size": col}               # top-level key count, same
                                      # object-only NULL contract

Round-14 M21 engine-half (driver keys queue r15): the §2-J streaming
family through E1 —

    {"$stream": {                     # TOP-level verb, self-contained
       "$source": "events",           # the streaming entity (the only
                                      # one with an event-time column)
       "$window": {"$size": d,        # tumbling (or sliding with
                   "$slide": d?} |    # $slide) event-time windows, XOR
       "$session_gap": d,             # session windows (gap-merged)
       "$groupby": [col, ...],        # extra state keys
       "$agg": {alias: {op: col}},    # streaming-safe subset only:
                                      # $count/$sum/$avg/$min/$max/
                                      # $approx_count_distinct (M26 —
                                      # the HLL++ sketch is the
                                      # streaming count-distinct)
                                      # ($sum in exact DECIMAL, double
                                      # at the boundary — §7.3)
       "$watermark": d,               # optional: complete → append
    }}                                # mode with state eviction.
                                      # Durations are "N unit" strings.
                                      # Compiles to the SAME Structured
                                      # Streaming graph the registered
                                      # stream_* keys run (availableNow
                                      # replay; batch-twin oracle
                                      # story); emits win_start_us
                                      # epoch µs + keys + agg aliases.

Round-14 M23 engine-half (driver key queues r15): the uncorrelated
scalar subquery —

    {"$scalar": {<query spec>}}       # anywhere a literal is legal
                                      # (filter/where/having operands,
                                      # $limit, $if branches): the
                                      # inner query runs first and its
                                      # SINGLE value substitutes as a
                                      # plain literal BEFORE parsing
                                      # (the bind_args pattern), so it
                                      # type-checks like any literal
                                      # and reaches the parquet scan
                                      # as a pushed filter. Inner
                                      # result must be exactly 1 row ×
                                      # 1 column; NULL raises typed
                                      # ($coalesce a default inside);
                                      # nested $scalar resolves first.

Round-15 M25: the CORRELATED scalar subquery (a comparison operand in
an entity's ``$filter`` only) —

    {col: {cmp: {"$scalar": {          # cmp ∈ $eq/$ne/$lt/$lte/$gt/$gte
        <entity>: {"$groupby": [...],  # MUST equal the $on keys (the
                   "$agg": {...}},     # scalar-per-group contract)
        "$on": {inner_col: outer_col}  # equi-correlation map
    }}}}                               # lowered to the decorrelated
                                       # aggregate + ONE equi-join;
                                       # missing group ≡ NULL scalar ≡
                                       # row dropped (SQL semantics)

Round-15 M24: approximate-sketch aggregates in ``$agg`` —

    {alias: {"$approx_count_distinct": col | [col, rsd]}}
    {alias: {"$approx_percentile": [col, p | [p, ...], accuracy?]}}
      # a fraction LIST (M28) builds ONE sketch and reads every
      # quantile from it — array emission in fraction order

and boolean comparison EXPRESSIONS in ``$select``/``$derive``
($eq/$ne/$lt/$lte/$gt/$gte over two sub-expressions, SQL three-valued:
NULL operand → NULL result) — the sketch-contract spelling.

Round-16 M29/M30: the $stream join + dedup surface —

    {"$stream": {
       ...,
       "$join": {"$entity": "customer",  # stream ⋈ static dim enrich
                 "$on": {stream_col: dim_col, ...},  # equi only
                 "$fields": [dim_col, ...],  # carried onto the stream
                 "$how": "inner" | "left"},  # others refused typed
       "$distinct": [key, ...],         # watermarked streaming dedup
                                        # (REQUIRES $watermark — state
                                        # evictability is the contract);
                                        # windowless = dedup PASS-THROUGH
                                        # (rows out, ts as epoch-µs
                                        # ts_us); with a window it feeds
                                        # the aggregation. Pipeline
                                        # order: watermark → dedup →
                                        # enrich → window agg.
    }}

Round-16 M33: the stream ⋈ stream interval join (top-level verb) —

    {"$stream_join": {
       "$source": "events",
       "$left": {<$filter dict>},       # per-side plain predicates
       "$right": {<$filter dict>},
       "$on": [col, ...],               # shared equi-keys (ts/event_id
                                        # refused — time/identity cols)
       "$within": "1 hour",             # right ts ∈ (left, left+within]
       "$watermark": "10 minutes",      # BOTH required: the pair is
    }}                                  # what lets Spark evict join
                                        # state (O(window), not
                                        # O(stream)). Inner only.

Round-16b extensions (M34 array HOFs, M36 calendar parts, M37 numeric
verbs — all probed cross-engine before the grammar was written; see
the SELECT_OPS table for per-verb semantics):

    {"$from": {<query spec>},         # M35: derived-table composition
     <outer body>}                    # — the outer body queries the
                                      # INNER RESULT frame (fields,
                                      # $filter/$select/$groupby/$agg/
                                      # $window/$orderby/... all
                                      # compose; inner may be a plain,
                                      # set-op, or nested $from spec).
                                      # Catalog-dependent verbs are
                                      # refused typed on the outer
                                      # query (hops / $sample /
                                      # $traverse — spell them inside
                                      # the inner query); streaming
                                      # specs cannot be composed.
                                      # Catalyst fuses the seam: outer
                                      # filters and column pruning
                                      # reach the inner scan (plan-
                                      # checked — no materialization
                                      # barrier). Enables agg-of-agg
                                      # and filter-the-unpivoted-long-
                                      # form, closing the documented
                                      # "$where cannot see $unpivot
                                      # output" chaining gap.
    {"$array_filter": [arr, body]}    # element lambdas: body is the
    {"$array_transform": [arr, body]} # $select expression grammar
                                      # over the element "$x" +
                                      # literals ONLY (frame columns /
                                      # $if / nested array-vector ops
                                      # refused typed); lowered to
                                      # JVM filter/transform HOFs —
                                      # zero Python, zero exchange
    {"$array_sum": arr}               # skip-NULL DOUBLE fold, 0.0 on
                                      # empty, NULL on NULL array;
                                      # $array_min/$array_max skip
                                      # NULLs, NULL on empty
    {"$array_contains": [arr, lit]}   # NULL array → NULL else bool
    {"$array_distinct": arr}          # SORTED distinct non-NULL (the
                                      # hashable contract)
    {"$array_sort": arr}              # asc, NULLs last
    {"$slice": [arr, start, len]}     # 1-based int literals
    {"$hour"/"$minute"/"$second"/     # calendar parts (UTC session);
     "$quarter"/"$week"/"$doy"/       # $week ISO, $dow_iso 1=Monday,
     "$dow_iso"/"$epoch_us": expr}    # $epoch_us the §7.3 emission
    {"$floor"/"$ceil": expr}          # → BIGINT; operand to DOUBLE
    {"$sign": expr}                   # → INT
    {"$sqrt"/"$pow"/"$exp"/"$ln"/     # doubles; NULL pinned outside
     "$log10": ...}                   # domain; libm-class verbs want
                                      # the round(6) hedge when hashed

Round-16b M38 (string search/pad/shape, DATE arithmetic, boolean +
distinct aggregates — all probed identical cross-engine):

    {"$lpad"/"$rpad": [e, n, {"$lit": pad}]}  # pad AND truncate to n
    {"$left"/"$right"/"$repeat": [e, n]}      # n an int literal >= 0
    {"$reverse": e}
    {"$contains"/"$starts_with"/          # PLAIN substring predicates
     "$ends_with": [e, {"$lit": s}]}     # (never regex); non-empty
                                          # needle enforced typed
    {"$strpos": [e, {"$lit": s}]}         # 1-based, 0 when absent
    {"$date_add"/"$date_sub"/             # DATE-operand steps (a
     "$add_months": [date-e, n-expr]}     # timestamp diverges — $cast
    {"$last_day": date-e}                 # to date first; enforced by
                                          # the key's own fixture)
    {alias: {"$bool_and"/"$bool_or": p}}  # in $agg: NULL-skipping
    {alias: {"$count_if": p}}             # TRUE rows only
    {alias: {"$sum_distinct"/             # distinct-set aggregates
             "$avg_distinct": col}}       # (exact on ints/decimals;
                                          # doubles want the hedge)

Round-16b M41: ad-hoc frame join (top-level verb) —

    {"$join": {"$left": {<spec>},      # equi-join of two ARBITRARY
               "$right": {<spec>},     # query frames (plain/set-op/
               "$on": {lcol: rcol},    # $from/nested $join) — the
               "$how": "inner"|"left"  # join the resolver-graph model
                      |"right"|"full"  # can't spell (no FK edge
     }, <outer body>}                  # needed): agg-to-agg joins,
                                       # cross-entity joins. Result =
                                       # left columns + right NON-KEY
                                       # columns (right keys drop;
                                       # right/full coalesce the kept
                                       # key — USING semantics); other
                                       # collisions refused typed.
                                       # The outer body then works
                                       # exactly like $from. Equi
                                       # only — a cross join is
                                       # deliberately not offered.

Round-16b M40: bag set ops + explicit NULL placement —

    {"$intersect_all": [specA, specB]} # multiplicities min (SQL
    {"$except_all": [specA, specB]}    # INTERSECT ALL) / subtract
                                       # (EXCEPT ALL); binary, nest
                                       # like the DISTINCT forms
    "$orderby": [[col, dir,            # optional third element pins
        "nulls_first"|"nulls_last"]]   # NULL placement (also in
                                       # $window $order); without it
                                       # the engine defaults hold
                                       # (NULLS FIRST asc / LAST desc)

Round-16b M43: multi-key correlated EXISTS in $filter —

    "$filter": {"$exists_query": {      # keep rows with >= 1 subquery
        "$query": {<spec>},             # row matching on EVERY $on
        "$on": {inner_col: outer_col}}} # pair (LEFT SEMI);
    (also "$not_exists_query")          # $not_exists_query = LEFT
                                        # ANTI. The ad-hoc multi-key
                                        # generalization of the FK-hop
                                        # $exists and of $in_query;
                                        # type families checked per
                                        # pair; same entity-$filter-
                                        # only + batch-only refusals.

Round-16b M39: subquery membership in an entity's $filter —

    {col: {"$in_query": {<spec>}}}        # LEFT SEMI on the subquery's
    {col: {"$not_in_query": {<spec>}}}    # single output column / LEFT
                                          # ANTI. NULL semantics ≡
                                          # EXISTS / NOT EXISTS (NOT
                                          # SQL's NOT IN NULL trap —
                                          # documented in SubqueryIn);
                                          # inner may be plain/set-op/
                                          # $from, must emit exactly
                                          # ONE column; refused typed
                                          # outside an entity $filter
                                          # ($or branches included)
                                          # and for streaming inners.

Round-16 M31: regex verbs under the portable Java-regex/RE2 subset
(_validate_portable_regex — divergent constructs refused TYPED:
backrefs, lookaround, named groups, inline flags, possessive
quantifiers, POSIX [:classes:], class &&, bare $, class-\\b,
dangling braces, \\Q..\\E / hex / unicode / control escapes) —

    {col: {"$regex": pattern}}               # FILTER: partial match
    {"$regex_extract": [e, {"$lit": p}, g]}  # group g (parse-checked
                                             # vs capture count); '' on
                                             # no match
    {"$regex_like": [e, {"$lit": p}]}        # boolean partial match
    {"$regex_replace": [e, {"$lit": p},      # ALL occurrences; repl is
                        {"$lit": repl}]}     # a PLAIN literal
    {"$regex_count": [e, {"$lit": p}]}       # match count; NULL→NULL

Round-16 M32: navigation window functions —

    {alias: {"$first"|"$last": {"$partition": [...], "$order": [...],
             "$of": expr, "$ignore_nulls": bool?}}}
    {alias: {"$nth": {..., "$n": k}}}   # 1-based; NULL past partition
                                        # size. Frame is PINNED to the
                                        # full partition (the last_value
                                        # footgun); user $frame refused.

``$``-keys are arguments (the reference passes resolver args the same way);
everything else is either a requested field (``True``) or a relationship
traversal (nested dict). Relationship fan-out is relational: one output row
per related entity (the reference auto-maps arrays; SURVEY.md §1.2 maps that
to join fan-out).
"""

from __future__ import annotations

import datetime as _datetime
import re
from dataclasses import dataclass, field


class SpecError(ValueError):
    """Analysis-time spec/type error (the reference embeds these as $error
    values in the result; we fail fast at compile time — SURVEY.md §1.2)."""


# $regex (round 16, M31): scan-level pattern predicate — rlike ≡ DuckDB
# regexp_matches (partial match, three-valued on NULL), pattern
# parse-validated to the portable Java-regex/RE2 subset like the
# $regex_* select verbs. $like stays the SQL-LIKE (%/_) spelling.
FILTER_OPS = {"$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$between",
              "$like", "$ilike", "$regex", "$isnull", "$notnull",
              # M39 (round 16b): membership vs a subquery result —
              # semi/anti join lowering, EXISTS/NOT EXISTS NULL
              # semantics (see SubqueryIn)
              "$in_query", "$not_in_query"}
AGG_OPS = {"$count", "$sum", "$avg", "$min", "$max", "$count_distinct",
           "$min_by", "$max_by", "$grouping",
           # round 12 (statistical aggregates; driver keys queue r13 per
           # the backlog-freeze discipline): sample/population spread,
           # interpolated median/percentile. Determinism note (§7.3):
           # emissions are raw doubles — oracle-facing specs compose
           # $derive + $round per the agg_stats/agg_percentile_exact
           # disciplines (round(4) on small-magnitude columns).
           "$stddev", "$stddev_pop", "$var", "$var_pop",
           "$median", "$percentile",
           # round 16b (M38): boolean + distinct aggregates, probed
           # identical cross-engine. $bool_and/$bool_or skip NULLs
           # (NULL on empty/all-NULL); $count_if counts TRUE rows of a
           # boolean column (≡ DuckDB count(*) FILTER (WHERE p) —
           # NULL/FALSE both uncounted); $sum_distinct/$avg_distinct
           # aggregate the distinct value SET ($avg_distinct lowers to
           # sum_distinct/count_distinct — one exact division, hash-
           # exact over INTEGER inputs; over raw doubles the distinct-
           # set summation order is engine-dependent and wants the §7.3
           # round(6) hedge, same as $avg; over DECIMAL inputs Spark's
           # division emits a DECIMAL where DuckDB's avg(DISTINCT)
           # emits DOUBLE — a hash-checked emission must $cast/$derive
           # to double per §7.3, so prefer int-cast inputs).
           "$bool_and", "$bool_or", "$count_if",
           "$sum_distinct", "$avg_distinct",
           # round 15 (M24): the approximate-sketch surface. At 100 TB
           # the sketch, not the exact aggregate, is what a user
           # reaches for first — $approx_count_distinct lowers to the
           # native HLL++ (merge-able register state, map-side
           # combined; optional rsd knob), $approx_percentile to the
           # native quantile sketch (optional accuracy knob; rank
           # error ≤ n/accuracy, so accuracy ≥ n is the exact
           # discrete-quantile regime — probed ≡ DuckDB quantile_disc
           # including ties/NULL/all-NULL edges).
           "$approx_count_distinct", "$approx_percentile",
           # round 13 (M15): paired-column statistics — Pearson
           # correlation and sample/population covariance. Pair
           # exclusion (a row with EITHER side NULL is skipped) is
           # identical in Spark and DuckDB (the agg_stats/agg_corr_regr
           # precedent); oracle-facing specs compose $derive+$round(6)
           # on small-magnitude columns per §7.3.
           "$corr", "$covar", "$covar_pop",
           # round 13 (M14): collection aggregates. NULL values are
           # SKIPPED (Spark collect_* semantics; oracle twins carry a
           # FILTER (WHERE x IS NOT NULL)); emission is SORTED —
           # collections are order-nondeterministic after shuffles, so
           # the sorted array is the only hashable contract (§7.3).
           "$collect_list", "$collect_set"}
# $select expression DSL (round 4): arity-checked at parse time.
# A bare string is a column reference; numbers are literals; string
# literals must be spelled {"$lit": "..."} to stay unambiguous.
SELECT_OPS = {
    "$lit": None,      # literal value (any scalar)
    "$add": -1,        # n-ary numeric
    "$sub": 2,
    "$mul": -1,
    "$div": 2,
    "$mod": 2,       # integer/decimal modulo (pmod-free: both engines C-style on positives)
    "$abs": 1,
    "$round": 2,       # [expr, ndigits-literal]
    "$concat": -1,     # n-ary string
    "$lower": 1,
    "$upper": 1,
    "$length": 1,      # string length
    "$md5": 1,         # md5 hex digest — the deterministic shuffle/dedup key
    "$size": 1,        # array length (a $collect-ed relationship or
                       # any array expression); NULL array → NULL
                       # (pinned round 16b — dodges Spark's
                       # size(NULL) = -1 legacy, ≡ DuckDB len())
    "$array_join": 2,  # [array-expr, {"$lit": sep}] → serialized string
    "$year": 1,
    "$month": 1,
    # round 13 (M16 — driver key compiler_calendar_rollup registered
    # r13): calendar ops with cross-engine-identical semantics (probed:
    # day-of-month, ISO-Monday weeks, quarter floors, day-count
    # datediff, NULL→NULL).
    "$day": 1,         # day of month (1-31)
    # round 16b (M36 — calendar part extraction): every part probed
    # bit-identical across engines on adversarial timestamps (midnight,
    # end-of-year with fractional seconds, leap day, NULL) under the
    # pinned UTC session. $second truncates fractional seconds on both
    # ($epoch_us carries full µs precision when you need it); $week is
    # the ISO week number (Spark weekofyear ≡ DuckDB weekofyear);
    # $dow_iso is ISO 1=Monday..7=Sunday (Spark weekday()+1 ≡ DuckDB
    # isodow — Spark's dayofweek() is 1=Sunday, deliberately not used).
    "$hour": 1,
    "$minute": 1,
    "$second": 1,      # whole seconds 0-59 (fraction truncated)
    "$quarter": 1,
    "$week": 1,        # ISO week-of-year 1-53
    "$doy": 1,         # day of year 1-366
    "$dow_iso": 1,     # ISO day of week: 1=Monday .. 7=Sunday
    "$epoch_us": 1,    # epoch microseconds BIGINT (the §7.3 timestamp
                       # emission); DATE operands lower via midnight UTC
    # round 16b (M37 — numeric verbs): operands lowered to DOUBLE
    # before the function so decimal-width arithmetic can never skew
    # the input (the probe lesson). $floor/$ceil emit BIGINT and
    # $sign emits INT (DuckDB twins: CAST(floor(x) AS BIGINT) etc).
    # Domain discipline: DuckDB ERRORS on ln(x<=0)/sqrt(x<0) where
    # Spark yields NULL/NaN, so the engine pins NULL-outside-domain
    # explicitly ($sqrt on negatives, $ln/$log10 on non-positives) and
    # oracle twins guard with CASE WHEN. Bit-exactness: $floor/$ceil/
    # $sign/$sqrt are IEEE-exact; $pow/$exp/$ln/$log10 are libm-class
    # (probed identical across the 600k-row sf0.1 fixture domain, but
    # a hash-exact emission should carry the §7.3 round(6) hedge).
    "$floor": 1,       # → BIGINT
    "$ceil": 1,        # → BIGINT
    "$sign": 1,        # → INT (-1, 0, 1; NULL on NULL)
    "$sqrt": 1,        # NULL on negative operand
    "$pow": 2,         # [base, exponent]; NaN on neg^fractional (both)
    "$exp": 1,
    "$ln": 1,          # NULL on operand <= 0
    "$log10": 1,       # NULL on operand <= 0
    "$date_trunc": 2,  # [expr, {"$lit": unit}], unit in year/quarter/
                       # month/week/day — emits DATE (Spark's timestamp
                       # result is cast; a raw timestamp emission would
                       # be session-timezone-dependent, the r12 lesson)
    "$datediff": 2,    # [end, start] — whole days end-start, DATE
                       # operands (timestamps must be $cast to date
                       # explicitly so the day boundary is visible, not
                       # implicit session-tz behavior)
    # round 13 (M17 — driver key compiler_string_normalize registered
    # r13): string ops with probed-identical semantics (1-based
    # CHARACTER indexing incl. multibyte, out-of-range substring → '',
    # space-trimming, plain-string replace with the empty-search no-op
    # identical on both).
    "$substring": 3,   # [expr, pos>=1, len>=0] — int literals
    "$trim": 1,        # strip spaces both ends
    "$ltrim": 1,
    "$rtrim": 1,
    "$replace": 3,     # [expr, {"$lit": from}, {"$lit": to}] — PLAIN
                       # strings, never regex
    # round 13 (M18 — engine-half; driver key queues r14): null-
    # handling combinators with probed-identical semantics (first
    # non-NULL; NULL-on-equal; greatest/least SKIP NULLs and are NULL
    # only when every operand is).
    # round 16b (M38 — string search/pad/shape verbs): all probed
    # bit-identical cross-engine on adversarial inputs (empty string,
    # NULL, multibyte, over-length take/pad-truncate). Needles and pad
    # strings are parse-validated NON-EMPTY literals; counts are int
    # literals >= 0. $contains/$starts_with/$ends_with are PLAIN
    # substring tests (never regex — that's $regex_like); $strpos is
    # the 1-based first position, 0 when absent (locate ≡ DuckDB
    # strpos, CAST AS INT on the twin).
    "$lpad": 3,        # [expr, n, {"$lit": pad}] — pad/truncate to n
    "$rpad": 3,
    "$left": 2,        # first n characters ('' when n = 0)
    "$right": 2,       # last n characters
    "$reverse": 1,
    "$repeat": 2,      # [expr, n >= 0]
    "$contains": 2,    # [expr, {"$lit": needle}] — boolean
    "$starts_with": 2,
    "$ends_with": 2,
    "$strpos": 2,      # 1-based position of needle, 0 when absent
    # round 16b (M38 — date arithmetic): DATE-operand day/month steps,
    # probed identical incl. leap-day and month-end clamping
    # (add_months ≡ d + INTERVAL n MONTH with CAST AS DATE on the
    # twin). The step may be any int expression (literal or column).
    # Contract is DATE operands: a timestamp operand diverges (Spark
    # date_add truncates to DATE, DuckDB ts + n stays timestamp) —
    # $cast to date first.
    "$date_add": 2,    # [date-expr, days-expr]
    "$date_sub": 2,
    "$add_months": 2,  # month step with end-of-month clamping
    "$last_day": 1,    # last day of the operand's month
    "$coalesce": -1,   # first non-NULL of n >= 2 operands
    "$nullif": 2,      # NULL when equal, else first operand
    "$greatest": -1,   # row-wise max, NULLs skipped
    "$least": -1,      # row-wise min, NULLs skipped
    # round 14 (M20 — driver key compiler_json_keys_histogram
    # registered r14): JSON map
    # introspection. Contract: NULL unless the input is a VALID JSON
    # OBJECT (Spark from_json semantics; DuckDB twins guard with
    # json_valid + json_type = 'OBJECT'); keys in document order.
    "$json_keys": 1,   # array of top-level object keys (explodable)
    "$json_size": 1,   # top-level key count
    "$cast": 2,        # [expr, {"$lit": type-name}] — CAST_TYPES only
    "$if": 3,          # [cond ($filter syntax), then-expr, else-expr]
    "$json": 2,        # [expr, {"$lit": "$.path"}] — JSON field accessor
    # vector similarity (round 13, SURVEY roadmap M12 — driver keys
    # registered r13): each argument is an array column name or a
    # {"$lit": [numbers]} query vector. Lowered to zero-shuffle
    # zip_with + aggregate HOFs — JVM-side, no Python, no exchange.
    "$dot": 2,         # Σ aᵢ·bᵢ
    "$cosine": 2,      # dot / (‖a‖·‖b‖); zero-norm → NULL
    "$euclidean": 2,   # √Σ (aᵢ-bᵢ)²
    # round 13 (M13): PLAIN-string split — [string-expr, {"$lit": sep}].
    # The separator is a literal plain string, never a regex (lowered
    # regex-quoted on the Spark side so both engines split on the exact
    # byte sequence); empty trailing fields are KEPT (Spark limit=-1 ≡
    # DuckDB string_split); NULL input → NULL array.
    "$split": 2,
    # round 16b (M34 — array higher-order verbs): element-wise lambdas
    # over array columns with "$x" as the element reference. The lambda
    # body is the ordinary $select expression grammar restricted to
    # "$x" + literals (a frame-column reference inside a lambda is
    # refused typed — correlated lambdas are not offered; nested array
    # lambdas likewise). Lowered to Spark's filter/transform/aggregate
    # HOFs — JVM codegen, zero Python, zero exchange (DuckDB twins:
    # list_filter/list_transform with x -> ... lambdas). Probed
    # identical: NULL array → NULL result on every verb; NULL elements
    # ride through $array_transform and are dropped by a NULL-valued
    # $array_filter predicate on both engines.
    "$array_filter": 2,     # [array-expr, boolean lambda body]
    "$array_transform": 2,  # [array-expr, scalar lambda body]
    "$array_sum": 1,        # skip-NULL left fold to DOUBLE; 0.0 on
                            # empty/all-NULL; NULL on NULL array
                            # (DuckDB twin: coalesce(list_sum(...),0.0)
                            # under a CASE NULL-array guard — probed
                            # bit-identical incl. the 500-vector
                            # embeddings fixture)
    "$array_min": 1,        # NULL elements skipped; NULL on empty
    "$array_max": 1,        # (list_min/list_max — probed identical)
    "$array_contains": 2,   # [array-expr, {"$lit": scalar}] — NULL
                            # array → NULL, else TRUE/FALSE with NULL
                            # elements ignored (Spark's three-valued
                            # not-found-among-NULLs NULL is coalesced
                            # to FALSE ≡ DuckDB list_contains)
    "$array_distinct": 1,   # SORTED distinct NON-NULL elements — the
                            # only deterministic (hashable) contract:
                            # Spark preserves first-occurrence order
                            # where DuckDB doesn't guarantee one, so
                            # the verb pins sort order and drops NULLs
                            # (≡ list_sort(list_distinct(x)))
    "$array_sort": 1,       # ascending, NULLs LAST (≡ DuckDB
                            # list_sort(x,'ASC','NULLS LAST'))
    "$slice": 3,            # [array-expr, start>=1, len>=0] int
                            # literals, 1-based (≡ DuckDB
                            # list_slice(x, start, start+len-1))
    # round 16 (M31 — VERDICT r15 item 4): regex verbs under the
    # POSIX-simple cross-engine discipline llm_tokenize_bpe_regex
    # proves (llm_ext.py:547): patterns are parse-validated to the
    # construct subset with IDENTICAL semantics in Java regex (Spark)
    # and RE2 (DuckDB) — literals, classes, \d \w \s \b shorthands,
    # greedy/lazy quantifiers, alternation, (?:) groups, ^ — and the
    # divergent constructs are refused TYPED at parse time:
    # backreferences/lookaround/named groups/inline flags/possessive
    # quantifiers (Java-only), POSIX [:classes:] and class && , bare $
    # (Java matches before a final newline, RE2 does not), \Q..\E,
    # octal/hex/unicode escapes. Probed identical: no-match extract →
    # '', NULL input → NULL, $regex_like is PARTIAL match (rlike ≡
    # regexp_matches), replace is global (Spark default ≡ DuckDB 'g').
    "$regex_extract": 3,  # [expr, {"$lit": pattern}, group >= 0] —
                          # group parse-checked against the pattern's
                          # capturing-group count; '' when no match
    "$regex_like": 2,     # [expr, {"$lit": pattern}] — boolean,
                          # partial match, three-valued on NULL
    "$regex_replace": 3,  # [expr, {"$lit": pattern}, {"$lit": repl}] —
                          # ALL occurrences; replacement is a PLAIN
                          # literal (group refs $1 vs \1 diverge)
    "$regex_count": 2,    # [expr, {"$lit": pattern}] — number of
                          # non-overlapping matches (the token-count
                          # idiom); 0 when none, NULL input → NULL
                          # (explicit guard: Spark's size(NULL) is -1)
    # round 15 (M24): boolean-valued comparison expressions — computed
    # boolean columns over two sub-expressions (column-vs-column, which
    # $if's predicate syntax cannot spell). SQL three-valued semantics
    # on BOTH engines: NULL operand → NULL result. The motivating use
    # is the sketch-contract emission (|approx − exact| ≤ tol·exact as
    # a hash-exact boolean), but they compose anywhere $select/$derive
    # expressions do.
    "$eq": 2,
    "$ne": 2,
    "$lt": 2,
    "$lte": 2,
    "$gt": 2,
    "$gte": 2,
}

VECTOR_OPS = {"$dot", "$cosine", "$euclidean"}
# array verbs taking a lambda body / operating on an array operand (M34)
ARRAY_LAMBDA_OPS = {"$array_filter", "$array_transform"}
ARRAY_OPS = ARRAY_LAMBDA_OPS | {
    "$array_sum", "$array_min", "$array_max", "$array_contains",
    "$array_distinct", "$array_sort", "$slice",
}
# $date_trunc units with probed-identical floor semantics in Spark and
# DuckDB (week = ISO Monday on both)
_TRUNC_UNITS = {"year", "quarter", "month", "week", "day"}

# $cast target types. decimal(p,s) is the determinism workhorse (§7.3:
# money sums go through exact decimal, cast back to double at the end).
CAST_TYPES = {"string", "int", "bigint", "double", "date", "timestamp"}
_CAST_DECIMAL = ("decimal(",)

# $window function table: fn -> kind. Ranking fns need $order and take no
# input; offset fns need $of + $order; aggregate fns take $of (except
# $count) and optionally a $frame.
WINDOW_FNS = {
    "$row_number": "rank",
    "$rank": "rank",
    "$dense_rank": "rank",
    "$percent_rank": "rank",
    "$cume_dist": "rank",
    "$ntile": "rank",
    "$lag": "offset",
    "$lead": "offset",
    "$sum": "agg",
    "$avg": "agg",
    "$min": "agg",
    "$max": "agg",
    "$count": "agg",
    # round 16 (M32 — VERDICT r15 item 6): navigation functions. Need
    # $of + $order; the engine PINS the full-partition frame (ROWS
    # UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING — the default ORDER BY
    # frame stops at CURRENT ROW, which makes last_value a footgun;
    # the win_first_last_nth discipline), so a user $frame is refused.
    # $nth takes $n >= 1 (1-based; NULL when the partition is smaller).
    "$first": "nav",
    "$last": "nav",
    "$nth": "nav",
}
_WINDOW_PARAM_KEYS = {"$partition", "$order", "$of", "$n", "$offset",
                      "$default", "$frame", "$ignore_nulls"}

# Round-7 set operators (VERDICT r6 item 6 — the last §2 family with no
# QuerySpec spelling). SQL semantics: $union/$intersect/$except are
# DISTINCT; $union_all keeps duplicates. $intersect/$except are binary.
SET_OPS = {"$union", "$union_all", "$intersect", "$except",
           # M40 (round 16b): bag-semantics variants — multiplicities
           # min / subtract (SQL INTERSECT ALL / EXCEPT ALL; raw twins
           # set_intersect_all / set_except_all). Binary like their
           # DISTINCT forms.
           "$intersect_all", "$except_all"}


def bind_args(spec: object, params: dict) -> object:
    """Round-7: resolve ``{"$arg": name}`` placeholders against ``params``
    BEFORE parsing — the QuerySpec spelling of naqed resolver arguments
    (SURVEY §1.1: the reference passes resolver args through the query
    object the same way). Binding happens pre-parse so bound values flow
    through exactly the same shape/type validation as literals (a string
    bound into a bigint predicate still raises the typed analysis error).

    Typed-error contract: missing param, unused param (typo catcher),
    non-string ``$arg`` name, and non-scalar param values all raise
    ``SpecError``. Param values may be scalars or lists of scalars (for
    ``$in``); dict values are rejected — parameters carry DATA, never
    spec structure, so a param can never inject operators."""
    if not isinstance(params, dict) or any(
        not isinstance(k, str) for k in params
    ):
        raise SpecError("params must be a dict of name -> scalar")
    used: set[str] = set()

    def _is_scalar(v: object) -> bool:
        return v is None or isinstance(v, (str, int, float, bool))

    def _sub(obj: object) -> object:
        if isinstance(obj, dict):
            if set(obj) == {"$arg"}:
                name = obj["$arg"]
                if not isinstance(name, str):
                    raise SpecError(f"$arg name must be a string, got {name!r}")
                if name not in params:
                    raise SpecError(
                        f"$arg {name!r} not provided (have {sorted(params)})"
                    )
                used.add(name)
                v = params[name]
                if isinstance(v, (list, tuple)):
                    if any(not _is_scalar(x) for x in v):
                        raise SpecError(
                            f"$arg {name!r}: list param items must be scalars"
                        )
                    return list(v)
                if not _is_scalar(v):
                    raise SpecError(
                        f"$arg {name!r}: param value must be a scalar or a"
                        f" list of scalars, got {type(v).__name__}"
                    )
                return v
            return {k: _sub(v) for k, v in obj.items()}
        if isinstance(obj, list):
            return [_sub(x) for x in obj]
        return obj

    out = _sub(spec)
    unused = set(params) - used
    if unused:
        raise SpecError(
            f"unused params {sorted(unused)} — no matching $arg in the spec"
        )
    return out


@dataclass
class Predicate:
    column: str
    op: str  # one of FILTER_OPS
    value: object


class JoinFramesSpec:
    """M41 (round 16b): ad-hoc equi-join of two QUERY FRAMES — the
    top-level ``{"$join": {"$left": spec, "$right": spec, "$on":
    {lcol: rcol}, "$how": ...}, <outer body>}``. Unlike relationship
    hops (catalog FK edges), the sides are arbitrary sub-queries
    (plain/set-op/$from/nested $join), so agg-to-agg joins and
    cross-entity joins without a declared edge become spellable.
    The joined frame = left columns + right NON-KEY columns (right
    join-key columns drop — they equal the left keys on matches);
    any other name collision is refused typed (rename via $select in
    a branch). The outer body then behaves exactly like a $from
    frame."""

    def __init__(self, left, right, on: dict, how: str):
        self.left = left
        self.right = right
        self.on = on
        self.how = how


class ExistsQuery:
    """M43 (round 16b): multi-key correlated EXISTS inside ``$filter``
    — ``{"$exists_query": {"$query": {<spec>}, "$on": {inner_col:
    outer_col, ...}}}`` keeps rows for which the subquery has at least
    one row matching on EVERY $on pair (LEFT SEMI join);
    ``$not_exists_query`` keeps the complement (LEFT ANTI). The
    ad-hoc, multi-key generalization of the FK-hop $exists and the
    single-column $in_query: correlation keys are explicit, no catalog
    edge needed. NULL semantics are the join forms' (≡ EXISTS/NOT
    EXISTS): NULL keys never match."""

    def __init__(self, inner, on: dict, negate: bool):
        self.inner = inner
        self.on = on
        self.negate = negate


class SubqueryIn:
    """M39 (round 16b): membership test against a SUBQUERY result —
    ``{col: {"$in_query": {<query spec>}}}`` compiles to a LEFT SEMI
    join on col == the subquery's single output column;
    ``$not_in_query`` to a LEFT ANTI join. NULL semantics are pinned
    to the JOIN forms (≡ SQL EXISTS / NOT EXISTS): a NULL outer value
    never matches, so $in_query drops it and $not_in_query KEEPS it —
    deliberately NOT SQL's NOT IN NULL trap (one NULL inner value
    empties a NOT IN; the anti join stays stable). NULL inner values
    are dropped pre-join (they can never equi-match)."""

    def __init__(self, inner, negate: bool):
        self.inner = inner
        self.negate = negate


@dataclass
class CorrelatedScalar:
    """Round 15 (M25): a correlated scalar subquery as a comparison
    operand in ``$filter`` — ``{"$scalar": {<inner spec>, "$on":
    {inner_col: outer_col}}}``. The TPC-H Q17 shape: each outer row
    compares against the aggregate of ITS correlation group. The
    engine lowers it to the classic decorrelation — the inner grouped
    aggregate (its $groupby must equal the $on keys, enforced at
    parse, so the key is unique = the scalar-per-group contract) plus
    ONE equi-join — never a per-row subquery. Missing-group semantics
    match SQL: a NULL scalar fails every comparison, which is exactly
    the inner equi-join dropping the row."""

    inner: dict  # raw single-entity query spec (compiled by the engine)
    on: dict  # inner column -> outer column equi-correlation map


@dataclass
class AggSpec:
    alias: str
    op: str  # one of AGG_OPS
    column: str | None  # None for $count
    order_col: str | None = None  # $min_by/$max_by ordering column
    # $percentile fraction; $approx_count_distinct rsd;
    # $approx_percentile (fraction, accuracy) tuple
    param: "float | tuple | None" = None


@dataclass
class Expr:
    """One node of a $select computed-column expression tree."""

    op: str  # "$col", or one of SELECT_OPS
    args: list  # children (Expr) for operators; [value] for $col/$lit


@dataclass
class WindowFn:
    """One $window entry: alias := fn(...) OVER (partition/order/frame)."""

    alias: str
    op: str  # one of WINDOW_FNS
    partition: list[str] = field(default_factory=list)
    order: list[tuple[str, str]] = field(default_factory=list)
    of: "Expr | None" = None  # input expression (offset/aggregate fns)
    n: int | None = None  # $ntile bucket count
    offset: int = 1  # $lag/$lead distance
    default: object = None  # $lag/$lead fill value (scalar literal)
    frame: tuple | None = None  # ("rows"|"range", lo, hi); agg fns only
    ignore_nulls: bool = False  # $first/$last/$nth: skip NULL inputs


@dataclass
class AsofSpec:
    """Round-9 ``$asof`` hop modifier: match each parent row to the ONE
    child row nearest in time along the declared FK edge instead of the
    full fan-out. ``left_on``/``right_on`` are the parent/child ordering
    columns, ``per`` the parent's unique key (the rank-1 partition),
    ``tiebreak`` a unique child column making the pick deterministic,
    ``strategy`` backward (latest child at-or-before, the join_asof
    contract) or forward (earliest child at-or-after)."""

    left_on: str
    right_on: str
    per: str
    tiebreak: str
    strategy: str = "backward"
    # round 11 (registered r12): staleness bound in the units of the
    # ordering columns (MICROSECONDS when they are dates/timestamps —
    # the engine lowers both sides to epoch µs); None = unbounded.
    tolerance: "int | float | None" = None
    # round 12 (ADVICE r11): join semantics for parents with no
    # (in-tolerance) match — "inner" drops them (default), "left"
    # keeps them with NULL child columns (the registered
    # join_asof_tolerance key's feature-store freshness contract).
    how: str = "inner"


@dataclass
class Node:
    """One entity in the traversal tree."""

    entity: str
    fields: list[str] = field(default_factory=list)
    filters: list[Predicate] = field(default_factory=list)
    children: list[tuple[str, "Node"]] = field(default_factory=list)  # (rel name, node)
    how: str = "inner"  # join type for this hop
    collect: bool = False  # $collect: re-nest as array-of-children, no fan-out
    asof: "AsofSpec | None" = None  # $asof: rank-1 temporal match, no fan-out
    # $theta: residual non-equi conditions [left_col, op, right_col] ANDed
    # onto the FK equi-join (the scale-safe theta subset — the equi key
    # keeps the join hash-based; a pure cross theta is deliberately not
    # offered, mirroring the no-cartesian plan budget)
    theta: list = field(default_factory=list)


@dataclass
class SampleSpec:
    """$sample: md5-bucket mode (``per`` is None: keep rows hashing into
    the first ``keep`` of ``buckets``) or stratified mode (``per`` set:
    keep the ``keep`` md5-ranked rows per stratum)."""

    key: str
    keep: int
    buckets: int = 256
    per: str | None = None


@dataclass
class PivotSpec:
    """$pivot: wide conditional aggregation — one column per value."""

    on: str
    values: list
    op: str  # $count / $sum / $avg / $min / $max
    column: str | None  # None only for $count


@dataclass
class UnpivotSpec:
    """$unpivot: wide columns back to (name, value) long form."""

    cols: list[str]
    name: str
    value: str


@dataclass
class ExplodeSpec:
    """$explode: array column to one row per element (round 13, M13).

    ``col`` must be a requested or $select-computed array column; the
    element column ``alias`` replaces it in place (defaults to the same
    name). ``pos`` optionally emits the 0-based element ordinal just
    before the element column. ``outer`` keeps parents whose array is
    NULL or empty as ONE row with a NULL element (and NULL ordinal) —
    the default inner form drops them (SQL UNNEST / Spark explode
    semantics, identical in DuckDB)."""

    col: str
    alias: str
    pos: "str | None"
    outer: bool


@dataclass
class TraverseSpec:
    """$traverse (round 14, M19): unbounded/fixpoint reachability over a
    same-entity graph — the last naqed-model gap (resolver-graph
    traversal to fixpoint) spelled as a query verb.

    ``seeds`` is a $filter-style predicate list selecting the seed rows
    of the ROOT entity. The edge set comes from exactly one of:

    - ``via``: a relationship-name chain that must return to the root
      entity type (the naqed resolver-chain spelling — e.g. nation →
      "region" → "nations" composes the same-region clique);
    - ``edges``: a full sub-query spec (an edge RESOLVER) whose result
      carries the two id columns named by ``src``/``dst`` (defaults
      "src"/"dst") in the root entity's key domain; NULL endpoints are
      dropped.

    ``max_depth`` bounds the search; absent means run to FIXPOINT with
    a 100-superstep safety cap (a typed error if still expanding —
    the depth guard; cycles are handled by the visited anti-join).
    ``alias`` names the emitted min-hop depth column (default "dist",
    0 on seeds). The traversal REPLACES the root frame: downstream
    stages ($filter, field requests, hops, $select, $agg, ...) see the
    reached entity rows plus the depth column."""

    seeds: list  # list[Predicate]
    via: "list[str] | None"
    edges: "QuerySpec | None"
    src: str
    dst: str
    max_depth: "int | None"
    alias: str
    # round 14 (M22 engine-half): optional edge-weight column name in
    # the $edges result — switches BFS hop-count to CHEAPEST-PATH
    # (frontier Bellman-Ford: relax from improved vertices only, min
    # total weight from any seed, seeds cost 0). $edges mode only
    # (a $via chain has no weight column); NULL-weight edges drop
    # like NULL endpoints; weights must be non-negative for the
    # min-relaxation fixpoint to be the true optimum (negative-cycle
    # graphs never converge — caught by the superstep cap).
    weight: "str | None" = None


@dataclass
class StreamJoin:
    """$stream.$join (round 16, M29): stream ⋈ static dimension enrich
    — the most common streaming operation (enrich events against a
    dimension table before aggregating). ``on`` maps stream column →
    dimension column (equi-keys only: a stream-static join is stateless
    and per-micro-batch, so the dim side broadcasts and the stream side
    NEVER shuffles for it — the stream_static_join raw-key shape).
    ``fields`` are the dimension columns carried onto the stream;
    ``how`` is inner (unmatched events drop) or left (enrich columns
    NULL). Other modes (right/full/semi/anti against a stream) are
    refused typed — they would need the static side to see the whole
    stream."""

    entity: str
    on: dict  # stream col -> dim col
    fields: list[str]
    how: str  # "inner" | "left"


@dataclass
class StreamSpec:
    """$stream (round 14, M21 engine-half): the §2-J streaming family
    through E1 — a declarative source/window/watermark/agg spec that
    compiles to the SAME Structured-Streaming transformation graph the
    registered stream_* keys run under availableNow replay (batch-twin
    oracle story, SURVEY §2-J). ``window_size``/``slide`` spell
    tumbling/sliding event-time windows; ``session_gap`` (XOR) spells
    session windows; ``watermark`` switches complete → append mode
    with state eviction. Output: win_start_us (epoch µs) + group keys
    + agg aliases — the stream_tumbling_window emission discipline.

    Round 16 (M29/M30): ``join`` enriches the stream against a static
    dimension BEFORE the window aggregation ($groupby may then use the
    joined fields); ``distinct`` spells watermarked streaming dedup by
    key — with a window it feeds the aggregation, WITHOUT one the
    deduped rows themselves are the result (the first stage of every
    at-least-once ingest pipeline; emission = stream columns with ts
    as epoch-µs ts_us, plus any joined fields). $distinct requires
    $watermark: unbounded dedup state on an infinite stream is the
    classic streaming leak, so evictability is part of the contract."""

    source: str
    window_size: "str | None"
    slide: "str | None"
    session_gap: "str | None"
    groupby: list[str]
    aggs: list  # list[AggSpec], restricted to streaming-safe ops
    watermark: "str | None"
    join: "StreamJoin | None" = None  # round 16 (M29)
    distinct: "list[str] | None" = None  # round 16 (M30)


@dataclass
class StreamStreamJoinSpec:
    """$stream_join (round 16, M33): stream ⋈ stream interval join —
    the correlate-two-event-streams primitive (click → purchase within
    the hour). Both sides read the streaming entity with their own
    plain-predicate filters; ``on`` lists shared equi-key columns;
    ``within`` bounds right event time to (left_ts, left_ts + within]
    — the time constraint that (with the REQUIRED watermark on both
    sides) lets Spark EVICT join state instead of buffering both
    streams forever: state is O(in-flight window), not O(stream).
    Inner only: outer stream-stream emission is watermark-delayed by
    construction (the raw stream_left_outer_join key carries that
    discipline; spelled later if a user needs it in the DSL)."""

    source: str
    left_filter: list  # list[Predicate]
    right_filter: list
    on: list[str]
    within: str
    watermark: str


@dataclass
class QuerySpec:
    root: Node
    groupby: list[str] = field(default_factory=list)
    aggs: list[AggSpec] = field(default_factory=list)
    having: list[Predicate] = field(default_factory=list)  # post-agg filter
    orderby: list[tuple[str, str]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    distinct: bool = False
    select: list[tuple[str, Expr]] = field(default_factory=list)  # computed cols
    derive: list[tuple[str, Expr]] = field(default_factory=list)  # post-agg cols
    windows: list[WindowFn] = field(default_factory=list)  # $window entries
    qualify: list[Predicate] = field(default_factory=list)  # post-window filter
    sample: "SampleSpec | None" = None
    pivot: "PivotSpec | None" = None
    unpivot: "UnpivotSpec | None" = None
    explode: "ExplodeSpec | None" = None  # round 13: array fan-out
    # round 13 (M14): post-projection row filter — same predicate DSL
    # as $filter, but bound against the post-$select/post-$explode
    # frame, so computed and exploded columns are filterable. $filter
    # remains the scan-level form (pushes down by construction); a
    # $where over scan-only columns is pushed down by Catalyst anyway.
    where: list[Predicate] = field(default_factory=list)
    # round 12: subtotal grids — "rollup" | "cube" | list of grouping
    # sets (each a list of $groupby columns; [] = grand total)
    grouping: "str | list[list[str]] | None" = None
    # round 14 (M19): unbounded/fixpoint same-entity reachability — the
    # traversal replaces the root frame with (reached rows + depth)
    traverse: "TraverseSpec | None" = None
    # round 16b (M35): derived-table composition — when set, the root
    # is not a catalog entity but the RESULT FRAME of this inner query
    # (itself a full query spec: plain, set-op, or another $from) —
    # or, M41, an ad-hoc two-frame equi-join (JoinFramesSpec).
    # Catalog-dependent verbs (hops, $sample, $traverse) are refused
    # on the outer query at parse time.
    from_inner: "QuerySpec | SetSpec | JoinFramesSpec | None" = None


def _validate_filter_value(col: str, op: str, val: object) -> None:
    """Shape-check predicate args at parse time (round 7 — the r6
    typed-error audit extended to the filter DSL: a malformed $in/$between
    arg must raise SpecError here, never TypeError/ValueError inside the
    compiler's unpack)."""
    if op == "$in":
        if not isinstance(val, (list, tuple)) or any(
            isinstance(v, (dict, list, tuple)) for v in val
        ):
            raise SpecError(f"{col!r}: $in needs a list of scalar values")
    elif op == "$between":
        if (not isinstance(val, (list, tuple)) or len(val) != 2
                or any(isinstance(v, (dict, list, tuple)) for v in val)):
            raise SpecError(f"{col!r}: $between needs a [low, high] pair")
    elif op in ("$like", "$ilike"):
        # $ilike (M42, round 16b): case-insensitive LIKE — probed
        # identical cross-engine (Spark Column.ilike ≡ DuckDB ILIKE)
        # incl. %/_ wildcards; non-ASCII case folding differs per ICU
        # build so patterns should stay ASCII (the fixture domain)
        if not isinstance(val, str):
            raise SpecError(f"{col!r}: {op} needs a string pattern")
    elif op == "$regex":
        # round 16 (M31): same portable-subset gate as the $regex_*
        # select verbs — a divergent construct in a filter would
        # silently change the row SET across engines, worse than a
        # wrong column value
        _validate_portable_regex(val, f"{col!r} $regex")
    elif op in ("$isnull", "$notnull"):
        if val is not True:
            raise SpecError(
                f"{col!r}: {op} takes only true (use the other op for the"
                f" negation) — got {val!r}"
            )


_CORR_SCALAR_OPS = {"$eq", "$ne", "$lt", "$lte", "$gt", "$gte"}


def _parse_correlated_scalar(col: str, op: str, val: dict) -> CorrelatedScalar:
    """Round 15 (M25): shape-check ``{"$scalar": {<spec>, "$on": ...}}``
    as a filter comparison operand. Uncorrelated $scalar (no $on) is
    resolved to a literal BEFORE parsing by the engine, so a bare
    $scalar reaching here means the caller bypassed Engine.query —
    both forms get typed errors."""
    if set(val) != {"$scalar"} or not isinstance(val["$scalar"], dict):
        raise SpecError(
            f"{col!r}: filter value must be a scalar literal or a"
            f" {{'$scalar': ...}} subquery — got {val!r}"
        )
    inner = dict(val["$scalar"])
    if "$on" not in inner:
        raise SpecError(
            f"{col!r}: $scalar without $on is the uncorrelated form,"
            f" resolved before parsing — run the spec through"
            f" Engine.query, or add $on {{inner_col: outer_col}} for"
            f" the correlated form"
        )
    if op not in _CORR_SCALAR_OPS:
        raise SpecError(
            f"{col!r}: correlated $scalar is a comparison operand —"
            f" {op} is not a comparison (use one of"
            f" {sorted(_CORR_SCALAR_OPS)})"
        )
    on = inner.pop("$on")
    if (not isinstance(on, dict) or not on or not all(
            isinstance(k, str) and k and isinstance(v, str) and v
            for k, v in on.items())):
        raise SpecError(
            f"{col!r}: $scalar.$on must be a non-empty dict of"
            f" inner-column -> outer-column names"
        )
    if len(inner) != 1:
        raise SpecError(
            f"{col!r}: correlated $scalar takes exactly one inner query"
            f" spec entry plus $on — got keys {sorted(inner)}"
        )
    ((ent, ebody),) = inner.items()
    if not isinstance(ent, str) or ent.startswith("$"):
        raise SpecError(
            f"{col!r}: correlated $scalar inner query must be a plain"
            f" entity query — got {ent!r}"
        )
    if not isinstance(ebody, dict):
        raise SpecError(
            f"{col!r}: correlated $scalar inner entity body must be a"
            f" dict"
        )
    gb = ebody.get("$groupby")
    if (not isinstance(gb, list)
            or not all(isinstance(c, str) and not isinstance(c, bool)
                       and c for c in gb)
            or sorted(gb) != sorted(on)):
        raise SpecError(
            f"{col!r}: correlated $scalar inner $groupby ({gb!r}) must"
            f" equal the $on correlation keys ({sorted(on)}) — the"
            f" per-group aggregate IS the scalar-per-outer-row contract"
        )
    if not isinstance(ebody.get("$agg"), dict) or not ebody["$agg"]:
        # without the aggregate the inner is a raw projection with
        # duplicate keys and the decorrelation join FANS OUT, silently
        # inflating results — the grouped aggregate is what makes the
        # join key unique (code-review r15 finding)
        raise SpecError(
            f"{col!r}: correlated $scalar inner query must aggregate"
            f" (a non-empty $agg) — a bare $groupby projection has"
            f" duplicate keys and the decorrelation join would fan out"
        )
    return CorrelatedScalar(inner={ent: ebody}, on=dict(on))


def _has_correlated(preds: "list[Predicate]") -> bool:
    for p in preds:
        if p.op == "$or":
            if any(_has_correlated(b) for b in p.value):
                return True
        elif isinstance(p.value,
                        (CorrelatedScalar, SubqueryIn, ExistsQuery)):
            return True
    return False


def _reject_correlated(preds: "list[Predicate]", ctx: str) -> None:
    """Correlated $scalar and $in_query/$not_in_query are entity-
    $filter features (they compile to scan-time joins — a
    decorrelation join and a semi/anti join respectively, neither of
    which can live inside a Column predicate); every other predicate
    context gets the typed refusal instead of a compile-time crash."""
    if _has_correlated(preds):
        raise SpecError(
            f"{ctx}: correlated $scalar and the subquery predicates"
            f" ($in_query/$exists_query) are only supported in an"
            f" entity's $filter"
        )


def _parse_filters(obj: object) -> list[Predicate]:
    if not isinstance(obj, dict):
        raise SpecError(f"$filter must be a dict, got {type(obj).__name__}")
    preds: list[Predicate] = []
    for col, cond in obj.items():
        if col in ("$exists_query", "$not_exists_query"):
            # M43: multi-key correlated EXISTS — a dict key of the
            # $filter itself (it constrains the ROW, not one column)
            if not (isinstance(cond, dict)
                    and set(cond) == {"$query", "$on"}):
                raise SpecError(
                    f"{col} takes {{'$query': <spec>, '$on':"
                    f" {{inner_col: outer_col}}}} — got {cond!r}"
                )
            on = cond["$on"]
            if (not isinstance(on, dict) or not on
                    or not all(isinstance(k, str) and isinstance(v, str)
                               for k, v in on.items())):
                raise SpecError(
                    f"{col}.$on must be a non-empty"
                    f" {{inner_col: outer_col}} map"
                )
            if not isinstance(cond["$query"], dict):
                raise SpecError(f"{col}.$query must be a query spec dict")
            inner = parse_query(cond["$query"])
            if isinstance(inner, (StreamSpec, StreamStreamJoinSpec)):
                raise SpecError(
                    f"{col}: streaming specs cannot be composed — run"
                    f" the replay and query the batch result"
                )
            preds.append(Predicate(col, col, ExistsQuery(
                inner, dict(on), negate=(col == "$not_exists_query"))))
            continue
        if col == "$or":
            # round 7: disjunction — {"$or": [branch, branch, ...]} where
            # each branch is a $filter-style dict (AND within a branch,
            # OR across branches). Nested $or inside a branch recurses.
            if (not isinstance(cond, list) or len(cond) < 2
                    or not all(isinstance(b, dict) and b for b in cond)):
                raise SpecError(
                    "$or takes a list of >= 2 non-empty $filter dicts"
                )
            branches = [_parse_filters(b) for b in cond]
            for b in branches:
                # a correlated scalar inside a disjunction would need a
                # left-join + three-valued OR rewrite — out of scope,
                # refused typed (M25)
                _reject_correlated(b, "$or")
            preds.append(Predicate("$or", "$or", branches))
            continue
        if isinstance(cond, dict):
            for op, val in cond.items():
                if op not in FILTER_OPS:
                    raise SpecError(f"unknown filter op {op!r} on {col!r}")
                if op in ("$in_query", "$not_in_query"):
                    # M39: the value is a FULL query spec whose single
                    # output column is the membership set
                    if not isinstance(val, dict):
                        raise SpecError(
                            f"{col!r}: {op} takes a query spec dict —"
                            f" got {val!r}"
                        )
                    inner = parse_query(val)
                    if isinstance(inner,
                                  (StreamSpec, StreamStreamJoinSpec)):
                        raise SpecError(
                            f"{col!r}: {op} cannot take a streaming"
                            f" spec — run the replay and query the"
                            f" batch result"
                        )
                    preds.append(Predicate(col, op, SubqueryIn(
                        inner, negate=(op == "$not_in_query"))))
                    continue
                if isinstance(val, dict):
                    # M25: the only dict-shaped filter value is the
                    # correlated scalar subquery; anything else is the
                    # typed shape error (previously a downstream crash)
                    preds.append(Predicate(
                        col, op, _parse_correlated_scalar(col, op, val)))
                    continue
                _validate_filter_value(col, op, val)
                preds.append(Predicate(col, op, val))
        else:
            if isinstance(cond, (list, tuple)):
                raise SpecError(
                    f"{col!r}: bare list is ambiguous — spell {{'$in': [...]}}"
                )
            preds.append(Predicate(col, "$eq", cond))
    return preds


def _parse_aggs(obj: object) -> list[AggSpec]:
    if not isinstance(obj, dict):
        raise SpecError("$agg must be a dict of alias -> {op: column}")
    aggs: list[AggSpec] = []
    for alias, body in obj.items():
        if not isinstance(body, dict) or len(body) != 1:
            raise SpecError(f"$agg entry {alias!r} must be a single {{op: column}}")
        ((op, col),) = body.items()
        if op not in AGG_OPS:
            raise SpecError(f"unknown agg op {op!r} in {alias!r}")
        if op == "$grouping":
            # subtotal-row indicator (SQL GROUPING()): only meaningful
            # under $rollup/$cube/$grouping_sets and only over a
            # $groupby column — both enforced in parse_spec where the
            # sibling keys are visible.
            if not isinstance(col, str) or isinstance(col, bool) or not col:
                raise SpecError(
                    f"$agg entry {alias!r}: $grouping takes a $groupby"
                    f" column name, got {col!r}"
                )
            aggs.append(AggSpec(alias, op, col))
            continue
        if op == "$approx_count_distinct":
            # {alias: {"$approx_count_distinct": col}} or [col, rsd] —
            # rsd the target relative standard deviation of the HLL++
            # estimate (engine default 0.05 when omitted). Upper bound:
            # Spark's HLL++ needs p = ceil(2·log2(1.106/rsd)) ≥ 4, so
            # any rsd > 1.106/2^1.5 ≈ 0.3911 dies raw — the typed cap
            # at 0.39 keeps the legal range inside the SpecError
            # contract (code-review r15: 0.4 left a (0.3911, 0.4) raw
            # crash window). Lower bound (ADVICE r15): tiny rsd needs
            # huge precision p and Spark rejects it raw — probed
            # rsd=1e-4 raises FAILED_FUNCTION_CALL and rsd=0.0015
            # crashed the local JVM — so the typed floor is 0.002
            # (p = ceil(2·log2(1.106/0.002)) = 19, comfortably inside
            # Spark's supported register range).
            if isinstance(col, str) and not isinstance(col, bool) and col:
                aggs.append(AggSpec(alias, op, col))
                continue
            if (
                isinstance(col, list)
                and len(col) == 2
                and isinstance(col[0], str)
                and not isinstance(col[0], bool)
                and not isinstance(col[1], bool)
                and isinstance(col[1], (int, float))
                and 0.002 <= col[1] <= 0.39
            ):
                aggs.append(AggSpec(alias, op, col[0],
                                    param=float(col[1])))
                continue
            raise SpecError(
                f"$agg entry {alias!r}: $approx_count_distinct takes a"
                f" column name or [column, rsd in [0.002, 0.39]] — got"
                f" {col!r}"
            )
        if op == "$approx_percentile":
            # {alias: {"$approx_percentile": [col, p]}} or
            # [col, p, accuracy] — p a literal fraction in [0, 1] OR a
            # non-empty list of fractions (M28: ONE sketch build serves
            # every requested quantile; emission is array<double> in
            # fraction order); accuracy a positive int (rank error ≤
            # n/accuracy; engine default 10000)
            def _frac_ok(v: object) -> bool:
                return (not isinstance(v, bool)
                        and isinstance(v, (int, float)) and 0 <= v <= 1)

            ok = (
                isinstance(col, list)
                and len(col) in (2, 3)
                and isinstance(col[0], str)
                and not isinstance(col[0], bool)
                and (_frac_ok(col[1])
                     or (isinstance(col[1], list) and col[1]
                         and all(_frac_ok(v) for v in col[1])))
            )
            acc = 10000
            if ok and len(col) == 3:
                # int32 cap probed: Spark's percentile_approx rejects
                # accuracy > 2^31−1 with a raw VALUE_OUT_OF_RANGE
                ok = (not isinstance(col[2], bool)
                      and isinstance(col[2], int)
                      and 0 < col[2] <= 2147483647)
                if ok:
                    acc = col[2]
            if not ok:
                raise SpecError(
                    f"$agg entry {alias!r}: $approx_percentile takes"
                    f" [column, fraction in [0, 1] (or a non-empty"
                    f" list of fractions), optional int accuracy in"
                    f" [1, 2147483647]] — got {col!r}"
                )
            p = (tuple(float(v) for v in col[1])
                 if isinstance(col[1], list) else float(col[1]))
            aggs.append(AggSpec(alias, op, col[0], param=(p, acc)))
            continue
        if op == "$percentile":
            # {alias: {"$percentile": [col, p]}} — p a literal fraction
            # in [0, 1] (interpolated, quantile_cont semantics)
            if (
                not isinstance(col, list)
                or len(col) != 2
                or not isinstance(col[0], str)
                or isinstance(col[0], bool)
                or isinstance(col[1], bool)
                or not isinstance(col[1], (int, float))
                or not 0 <= col[1] <= 1
            ):
                raise SpecError(
                    f"$agg entry {alias!r}: $percentile takes"
                    f" [column, fraction in [0, 1]] — got {col!r}"
                )
            aggs.append(AggSpec(alias, op, col[0], order_col=None,
                                param=float(col[1])))
            continue
        if op in ("$min_by", "$max_by", "$corr", "$covar", "$covar_pop"):
            # two-column aggregates. argmin/argmax: [value-column,
            # ordering-column] — the caller must order by a UNIQUE
            # column (or accept engine-dependent tie-breaks), same
            # determinism contract as SQL arg_max. $corr/$covar*:
            # [x-column, y-column], pair-excluding NULLs.
            if (
                not isinstance(col, list)
                or len(col) != 2
                or not all(
                    isinstance(c, str) and not isinstance(c, bool)
                    for c in col
                )
            ):
                raise SpecError(
                    f"$agg entry {alias!r}: {op} takes exactly"
                    f" two column names — got {col!r}"
                )
            aggs.append(AggSpec(alias, op, col[0], col[1]))
            continue
        if col is not True and not isinstance(col, str):
            raise SpecError(
                f"$agg entry {alias!r}: column must be a name or True (count-star)"
                f" — got {col!r}"
            )
        if col is True and op != "$count":
            raise SpecError(
                f"$agg entry {alias!r}: {op} needs a column name"
                f" (True is count-star only)"
            )
        aggs.append(AggSpec(alias, op, None if col is True else col))
    return aggs


def _parse_vector_arg(op: str, a: object) -> Expr:
    """One operand of a VECTOR_OPS node: an array column name, or a
    {"$lit": [numbers]} query vector (non-empty, no bools — True would
    silently coerce to 1.0). Literal elements are normalized to float
    at parse time so the engine always lits an array<double>."""
    if isinstance(a, str):
        return Expr("$col", [a])
    if isinstance(a, dict) and set(a) == {"$lit"}:
        v = a["$lit"]
        if (
            isinstance(v, list)
            and v
            and all(
                isinstance(x, (int, float)) and not isinstance(x, bool)
                for x in v
            )
        ):
            return Expr("$lit", [[float(x) for x in v]])
        raise SpecError(
            f"{op}: $lit vector must be a non-empty list of numbers"
            f" — got {v!r}"
        )
    raise SpecError(
        f"{op} arguments must be array column names or"
        f" {{'$lit': [numbers]}} query vectors — got {a!r}"
    )


# escapes with identical semantics in Java regex and RE2 (ASCII
# regime): shorthand classes and word boundaries. Everything else
# alphanumeric after a backslash is refused — backreferences (\1),
# anchors (\A \z \Z \G), quoting (\Q \E), property/hex/unicode escapes
# (\p \x \u), control escapes (\c) all either diverge or exist in only
# one engine.
_REGEX_ESCAPE_OK = set("dDwWsSbB")


def _validate_portable_regex(pat: object, ctx: str) -> int:
    """Parse-time gate for the M31 cross-engine regex subset (round
    16): reject every construct whose semantics differ between Java
    regex (Spark) and RE2 (DuckDB), so a registered spec can never
    silently diverge across engines OR die with a raw engine error.
    Returns the pattern's capturing-group count (for $regex_extract's
    group-index check)."""
    if not isinstance(pat, str) or not pat:
        raise SpecError(f"{ctx}: pattern must be a non-empty string")
    groups = 0
    in_class = False
    prev_quant = False
    i, n = 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "\\":
            if i + 1 >= n:
                raise SpecError(f"{ctx}: trailing backslash in pattern")
            nxt = pat[i + 1]
            if nxt.isalnum() and nxt not in _REGEX_ESCAPE_OK:
                raise SpecError(
                    f"{ctx}: escape \\{nxt} is not portable between"
                    f" Java regex and RE2 — only \\d \\w \\s \\b (and"
                    f" uppercase negations) plus escaped punctuation"
                    f" are in the cross-engine subset"
                )
            if in_class and nxt in "bB":
                # code-review r16: inside a character class \b means
                # BACKSPACE in Java but is an invalid escape in RE2 —
                # divergent semantics on one engine, a raw error on
                # the other
                raise SpecError(
                    f"{ctx}: \\{nxt} inside a character class is not"
                    f" portable (Java reads backspace, RE2 rejects it)"
                )
            prev_quant = False
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            elif c == "[" and pat[i:i + 2] == "[:":
                raise SpecError(
                    f"{ctx}: POSIX class [:...:] is not portable"
                )
            elif c == "&" and pat[i:i + 2] == "&&":
                raise SpecError(
                    f"{ctx}: character-class intersection && is"
                    f" Java-only"
                )
            i += 1
            continue
        if c == "[":
            in_class = True
            prev_quant = False
            i += 1
            continue
        if c == "$":
            raise SpecError(
                f"{ctx}: bare '$' end-anchor is not portable (Java"
                f" matches before a final newline, RE2 does not) —"
                f" escape it as \\$ for a literal dollar"
            )
        if c == "(":
            if pat[i:i + 3] == "(?:":
                prev_quant = False
                i += 3
                continue
            if i + 1 < n and pat[i + 1] == "?":
                raise SpecError(
                    f"{ctx}: '(?' constructs (lookaround, named"
                    f" groups, inline flags, atomic groups) are not"
                    f" portable — only plain and (?: groups are"
                )
            groups += 1
            prev_quant = False
            i += 1
            continue
        if c == "{":
            # code-review r16: Python/RE2 read a dangling or malformed
            # '{' as a LITERAL while Java raises a raw
            # PatternSyntaxException ('Illegal repetition') — the
            # lenient re.compile backstop below cannot catch it, so
            # the brace must open a well-formed quantifier here
            m = re.match(r"\{\d+(,\d*)?\}", pat[i:])
            if not m:
                raise SpecError(
                    f"{ctx}: '{{' must open a {{m}} / {{m,}} / {{m,n}}"
                    f" quantifier (Java rejects a literal brace raw) —"
                    f" escape a literal brace as \\{{"
                )
            i += m.end()
            prev_quant = True
            continue
        if c == "+" and prev_quant:
            raise SpecError(
                f"{ctx}: possessive quantifiers (*+ ++ ?+ {{m}}+) are"
                f" Java-only"
            )
        prev_quant = c in "*+?"
        i += 1
    if in_class:
        raise SpecError(f"{ctx}: unterminated character class")
    try:
        re.compile(pat)
    except re.error as exc:
        raise SpecError(f"{ctx}: malformed pattern — {exc}")
    return groups


def _check_lambda_body(ctx: str, e: "Expr") -> None:
    """Validate an $array_filter/$array_transform lambda body: the
    element '$x' + literals only — a frame-column reference can't
    resolve inside Spark's HOF lambda scope the way the rest of the
    grammar promises (and correlated lambdas aren't portable), so it
    is refused typed; nested array lambdas are likewise refused (one
    lambda variable, no shadowing rules to get wrong)."""
    if e.op == "$col":
        raise SpecError(
            f"{ctx} lambda body may reference only the element '$x' and"
            f" literals — got frame column {e.args[0]!r}"
        )
    if e.op == "$if":
        raise SpecError(
            f"{ctx} lambda body does not support $if (its condition is"
            f" frame-predicate syntax); spell branches with comparison"
            f" ops over '$x'"
        )
    if e.op in ARRAY_OPS or e.op in VECTOR_OPS:
        raise SpecError(
            f"{ctx}: nested array/vector operations inside a lambda"
            f" body are not supported"
        )
    for a in e.args:
        if isinstance(a, Expr):
            _check_lambda_body(ctx, a)


def _parse_expr(obj: object) -> Expr:
    """Parse one $select expression. Bare strings are column references,
    bare numbers/bools literals; operator nodes are single-key dicts."""
    if obj == "$x":
        # the array-lambda element reference (M34); outside a lambda
        # the engine refuses it typed
        return Expr("$elem", [])
    if isinstance(obj, str):
        return Expr("$col", [obj])
    if isinstance(obj, bool) or isinstance(obj, (int, float)):
        return Expr("$lit", [obj])
    if not isinstance(obj, dict) or len(obj) != 1:
        raise SpecError(f"$select expression must be a single {{op: args}} dict,"
                        f" a column name, or a number — got {obj!r}")
    ((op, raw),) = obj.items()
    if op not in SELECT_OPS:
        raise SpecError(f"unknown $select op {op!r}")
    if op == "$lit":
        return Expr("$lit", [raw])
    args = raw if isinstance(raw, list) else [raw]
    arity = SELECT_OPS[op]
    if arity == -1:
        if len(args) < 2:
            raise SpecError(f"{op} needs at least 2 arguments, got {len(args)}")
    elif len(args) != arity:
        raise SpecError(f"{op} needs exactly {arity} argument(s), got {len(args)}")
    if op in VECTOR_OPS:
        # vector args are deliberately NOT general expressions: an
        # array operand is either a column reference or a literal query
        # vector — scalar sub-expressions can never type-check against
        # zip_with, so the shape error surfaces at parse time, typed.
        return Expr(op, [_parse_vector_arg(op, a) for a in args])
    if op == "$round":
        nd = args[1]
        if not isinstance(nd, int) or isinstance(nd, bool):
            raise SpecError("$round second argument must be an int literal")
        return Expr("$round", [_parse_expr(args[0]), Expr("$lit", [nd])])
    if op == "$split":
        sep = args[1]
        if not (isinstance(sep, dict) and set(sep) == {"$lit"}
                and isinstance(sep["$lit"], str) and sep["$lit"]):
            raise SpecError(
                "$split second argument must be a non-empty"
                " {'$lit': str} separator"
            )
        if "\\E" in sep["$lit"]:
            # the Spark lowering wraps the separator in \Q...\E regex
            # quoting; a literal \E inside would terminate the quote
            # and silently turn the tail into live regex
            raise SpecError(
                "$split separator must not contain the sequence '\\E'"
            )
        return Expr("$split", [_parse_expr(args[0]), Expr("$lit", [sep["$lit"]])])
    if op == "$array_join":
        sep = args[1]
        if not (isinstance(sep, dict) and set(sep) == {"$lit"}
                and isinstance(sep["$lit"], str)):
            raise SpecError(
                "$array_join second argument must be a {'$lit': str} separator"
            )
        return Expr("$array_join", [_parse_expr(args[0]), Expr("$lit", [sep["$lit"]])])
    if op == "$json":
        path = args[1]
        if not (isinstance(path, dict) and set(path) == {"$lit"}
                and isinstance(path["$lit"], str)
                and path["$lit"].startswith("$.")):
            raise SpecError(
                "$json second argument must be a {'$lit': '$.path'}"
                " JSONPath literal"
            )
        return Expr("$json", [_parse_expr(args[0]), Expr("$lit", [path["$lit"]])])
    if op == "$if":
        cond = args[0]
        if not isinstance(cond, dict) or not cond:
            raise SpecError(
                "$if condition must be a non-empty $filter-style dict"
            )
        preds = _parse_filters(cond)
        _reject_correlated(preds, "$if")
        return Expr("$if", [preds, _parse_expr(args[1]), _parse_expr(args[2])])
    if op == "$substring":
        pos, ln = args[1], args[2]
        if (not isinstance(pos, int) or isinstance(pos, bool) or pos < 1
                or not isinstance(ln, int) or isinstance(ln, bool)
                or ln < 0):
            raise SpecError(
                "$substring takes [expr, pos >= 1, len >= 0] with int"
                " literal pos/len (1-based character indexing)"
            )
        return Expr("$substring", [_parse_expr(args[0]),
                                   Expr("$lit", [pos]), Expr("$lit", [ln])])
    if op == "$replace":
        for i, name in ((1, "search"), (2, "replacement")):
            s = args[i]
            if not (isinstance(s, dict) and set(s) == {"$lit"}
                    and isinstance(s["$lit"], str)):
                raise SpecError(
                    f"$replace {name} must be a {{'$lit': str}} literal"
                )
        return Expr("$replace", [_parse_expr(args[0]),
                                 Expr("$lit", [args[1]["$lit"]]),
                                 Expr("$lit", [args[2]["$lit"]])])
    if op in ("$regex_extract", "$regex_like", "$regex_replace",
              "$regex_count"):
        # round 16 (M31): pattern is a parse-validated {"$lit": str}
        # in the cross-engine portable subset (never a computed
        # expression — a data-driven pattern could smuggle divergent
        # constructs past the validator)
        patarg = args[1]
        if not (isinstance(patarg, dict) and set(patarg) == {"$lit"}
                and isinstance(patarg["$lit"], str)):
            raise SpecError(
                f"{op} pattern must be a {{'$lit': str}} literal"
            )
        ngroups = _validate_portable_regex(patarg["$lit"], op)
        pat_expr = Expr("$lit", [patarg["$lit"]])
        if op == "$regex_extract":
            idx = args[2]
            if not isinstance(idx, int) or isinstance(idx, bool) or idx < 0:
                raise SpecError(
                    "$regex_extract takes [expr, {'$lit': pattern},"
                    " group-index int >= 0]"
                )
            if idx > ngroups:
                raise SpecError(
                    f"$regex_extract: group {idx} out of range — the"
                    f" pattern has {ngroups} capturing group(s)"
                )
            return Expr(op, [_parse_expr(args[0]), pat_expr,
                             Expr("$lit", [idx])])
        if op == "$regex_replace":
            rep = args[2]
            if not (isinstance(rep, dict) and set(rep) == {"$lit"}
                    and isinstance(rep["$lit"], str)):
                raise SpecError(
                    "$regex_replace replacement must be a"
                    " {'$lit': str} literal"
                )
            if "\\" in rep["$lit"] or "$" in rep["$lit"]:
                raise SpecError(
                    "$regex_replace replacement must be a plain"
                    " literal — group references and escapes diverge"
                    " between engines (Java $1 vs RE2 \\1)"
                )
            return Expr(op, [_parse_expr(args[0]), pat_expr,
                             Expr("$lit", [rep["$lit"]])])
        return Expr(op, [_parse_expr(args[0]), pat_expr])
    if op == "$date_trunc":
        unit = args[1]
        if not (isinstance(unit, dict) and set(unit) == {"$lit"}
                and isinstance(unit["$lit"], str)
                and unit["$lit"] in _TRUNC_UNITS):
            raise SpecError(
                f"$date_trunc second argument must be a {{'$lit': unit}}"
                f" with unit in {sorted(_TRUNC_UNITS)}"
            )
        return Expr("$date_trunc",
                    [_parse_expr(args[0]), Expr("$lit", [unit["$lit"]])])
    if op == "$datediff":
        # ADVICE r13: a string {'$lit': ...} operand reaches Spark's
        # datediff as an implicit string→date cast, and in non-ANSI
        # mode a malformed literal silently yields NULL rows instead of
        # an error. Mirror $date_trunc's strictness: date-literal
        # operands must parse as ISO dates AT PARSE TIME.
        parsed = []
        for a in args:
            e = _parse_expr(a)
            if e.op == "$lit" and isinstance(e.args[0], str):
                # the shape regex guards Python 3.11+'s fromisoformat
                # leniency (it accepts compact '20250101', which Spark's
                # string→date cast does NOT) — only the strict
                # YYYY-MM-DD spelling both engines parse passes
                ok = bool(re.fullmatch(r"\d{4}-\d{2}-\d{2}", e.args[0]))
                if ok:
                    try:
                        _datetime.date.fromisoformat(e.args[0])
                    except ValueError:
                        ok = False
                if not ok:
                    raise SpecError(
                        f"$datediff string literal {e.args[0]!r} is not an"
                        f" ISO date (YYYY-MM-DD); a malformed date would"
                        f" silently NULL every row"
                    )
            parsed.append(e)
        return Expr("$datediff", parsed)
    if op == "$cast":
        ty = args[1]
        if not (isinstance(ty, dict) and set(ty) == {"$lit"}
                and isinstance(ty["$lit"], str)):
            raise SpecError("$cast second argument must be a {'$lit': type} name")
        tname = ty["$lit"].lower()
        if tname not in CAST_TYPES and not tname.startswith(_CAST_DECIMAL):
            raise SpecError(
                f"$cast target {tname!r} not in {sorted(CAST_TYPES)} or decimal(p,s)"
            )
        return Expr("$cast", [_parse_expr(args[0]), Expr("$lit", [tname])])
    if op in ("$lpad", "$rpad"):
        n, pad = args[1], args[2]
        if not isinstance(n, int) or isinstance(n, bool) or n < 0:
            raise SpecError(f"{op} length must be an int literal >= 0")
        if not (isinstance(pad, dict) and set(pad) == {"$lit"}
                and isinstance(pad["$lit"], str) and pad["$lit"]):
            raise SpecError(
                f"{op} pad must be a non-empty {{'$lit': str}}"
            )
        return Expr(op, [_parse_expr(args[0]), Expr("$lit", [n]),
                         Expr("$lit", [pad["$lit"]])])
    if op in ("$left", "$right", "$repeat"):
        n = args[1]
        if not isinstance(n, int) or isinstance(n, bool) or n < 0:
            raise SpecError(f"{op} count must be an int literal >= 0")
        return Expr(op, [_parse_expr(args[0]), Expr("$lit", [n])])
    if op in ("$contains", "$starts_with", "$ends_with", "$strpos"):
        needle = args[1]
        if not (isinstance(needle, dict) and set(needle) == {"$lit"}
                and isinstance(needle["$lit"], str) and needle["$lit"]):
            raise SpecError(
                f"{op} needle must be a non-empty {{'$lit': str}}"
                f" (an empty needle is vacuously true/position 1 —"
                f" never what a spec means)"
            )
        return Expr(op, [_parse_expr(args[0]),
                         Expr("$lit", [needle["$lit"]])])
    if op in ARRAY_LAMBDA_OPS:
        body = _parse_expr(args[1])
        _check_lambda_body(op, body)
        return Expr(op, [_parse_expr(args[0]), body])
    if op == "$array_contains":
        needle = args[1]
        if not (isinstance(needle, dict) and set(needle) == {"$lit"}
                and needle["$lit"] is not None
                and not isinstance(needle["$lit"], (list, dict))):
            raise SpecError(
                "$array_contains second argument must be a non-NULL"
                " scalar {'$lit': value} (a NULL membership test is"
                " never TRUE in SQL — spell emptiness with $size)"
            )
        return Expr(op, [_parse_expr(args[0]),
                         Expr("$lit", [needle["$lit"]])])
    if op == "$slice":
        start, ln = args[1], args[2]
        if (not isinstance(start, int) or isinstance(start, bool)
                or start < 1):
            raise SpecError(
                "$slice start must be an int literal >= 1 (1-based)"
            )
        if not isinstance(ln, int) or isinstance(ln, bool) or ln < 0:
            raise SpecError("$slice length must be an int literal >= 0")
        return Expr(op, [_parse_expr(args[0]), Expr("$lit", [start]),
                         Expr("$lit", [ln])])
    return Expr(op, [_parse_expr(a) for a in args])


def _parse_orderlist(obj: object, ctx: str) -> list[tuple[str, str]]:
    """Shared [$order]/[$orderby] shape: list of col, [col, asc|desc],
    or [col, asc|desc, nulls_first|nulls_last] (M40 — explicit NULL
    placement; without it the engine defaults apply: NULLS FIRST
    ascending, NULLS LAST descending, which is the OPPOSITE of
    DuckDB's ASC default — the header's §7.3 contract). The direction
    tuple encodes the placement as "dir|nulls_*" so existing
    two-tuple consumers are untouched."""
    if not isinstance(obj, list):
        raise SpecError(f"{ctx} must be a list of column or [column, asc|desc]")
    out: list[tuple[str, str]] = []
    for item in obj:
        if isinstance(item, str):
            out.append((item, "asc"))
        else:
            # VERDICT r6 item 1 / hypothesis falsifying example {"$orderby":
            # [None]}: guard the shape before unpacking so malformed items
            # raise the typed SpecError, never a raw TypeError/ValueError.
            if (not isinstance(item, (list, tuple)) or len(item) not in (2, 3)
                    or not isinstance(item[0], str)):
                raise SpecError(
                    f"{ctx}: each item must be a column name, a"
                    f" [column, asc|desc] pair, or a [column, asc|desc,"
                    f" nulls_first|nulls_last] triple — got {item!r}"
                )
            col, direction = item[0], item[1]
            if direction not in ("asc", "desc"):
                raise SpecError(f"{ctx}: bad sort direction {direction!r}")
            if len(item) == 3:
                nulls = item[2]
                if nulls not in ("nulls_first", "nulls_last"):
                    raise SpecError(
                        f"{ctx}: NULL placement must be 'nulls_first'"
                        f" or 'nulls_last' — got {nulls!r}"
                    )
                direction = f"{direction}|{nulls}"
            out.append((col, direction))
    return out


def _parse_frame_bound(v: object, side: str):
    if v == "unbounded" or v == "current":
        return v
    if isinstance(v, int) and not isinstance(v, bool):
        return v
    raise SpecError(
        f"$frame {side} bound must be an int, 'unbounded', or 'current' — got {v!r}"
    )


def _parse_window(obj: object) -> list[WindowFn]:
    if not isinstance(obj, dict):
        raise SpecError("$window must be a dict of alias -> {fn: params}")
    out: list[WindowFn] = []
    for alias, body in obj.items():
        if not isinstance(body, dict) or len(body) != 1:
            raise SpecError(f"$window entry {alias!r} must be a single {{fn: params}}")
        ((op, params),) = body.items()
        if op not in WINDOW_FNS:
            raise SpecError(f"unknown window fn {op!r} in {alias!r}")
        if params is True:
            params = {}
        if not isinstance(params, dict):
            raise SpecError(f"$window {alias!r}: params must be a dict")
        extra = set(params) - _WINDOW_PARAM_KEYS
        if extra:
            raise SpecError(f"$window {alias!r}: unknown params {sorted(extra)}")
        w = WindowFn(alias=alias, op=op)
        part = params.get("$partition", [])
        if not isinstance(part, list) or not all(isinstance(c, str) for c in part):
            raise SpecError(f"$window {alias!r}: $partition must be a list of columns")
        w.partition = part
        if "$order" in params:
            w.order = _parse_orderlist(params["$order"], f"$window {alias!r} $order")
        kind = WINDOW_FNS[op]
        if kind in ("rank", "offset", "nav") and not w.order:
            raise SpecError(f"$window {alias!r}: {op} requires $order")
        if op in ("$ntile", "$nth"):
            n = params.get("$n")
            if not isinstance(n, int) or isinstance(n, bool) or n < 1:
                raise SpecError(f"$window {alias!r}: {op} needs a positive int $n")
            w.n = n
        elif "$n" in params:
            raise SpecError(
                f"$window {alias!r}: $n only applies to $ntile/$nth"
            )
        if "$of" in params:
            w.of = _parse_expr(params["$of"])
        if kind in ("offset", "nav") and w.of is None:
            raise SpecError(f"$window {alias!r}: {op} requires $of")
        if "$ignore_nulls" in params:
            # round 16: first/last/nth NON-NULL in the partition — the
            # latest-valid-reading idiom. Nav-only: Spark exposes the
            # flag only on the navigation functions, and IGNORE NULLS
            # semantics are probed identical in DuckDB's
            # first_value/last_value/nth_value.
            if kind != "nav":
                raise SpecError(
                    f"$window {alias!r}: $ignore_nulls only applies to"
                    f" $first/$last/$nth"
                )
            if not isinstance(params["$ignore_nulls"], bool):
                raise SpecError(
                    f"$window {alias!r}: $ignore_nulls must be a bool"
                )
            w.ignore_nulls = params["$ignore_nulls"]
        if kind == "agg" and op != "$count" and w.of is None:
            raise SpecError(f"$window {alias!r}: {op} requires $of")
        if "$offset" in params:
            off = params["$offset"]
            if not isinstance(off, int) or isinstance(off, bool) or off < 0:
                raise SpecError(f"$window {alias!r}: $offset must be an int >= 0")
            if kind != "offset":
                raise SpecError(f"$window {alias!r}: $offset only applies to $lag/$lead")
            w.offset = off
        if "$default" in params:
            if kind != "offset":
                raise SpecError(f"$window {alias!r}: $default only applies to $lag/$lead")
            if isinstance(params["$default"], (dict, list, tuple)):
                raise SpecError(
                    f"$window {alias!r}: $default must be a scalar literal"
                )
            w.default = params["$default"]
        if "$frame" in params:
            if kind != "agg":
                raise SpecError(f"$window {alias!r}: $frame only applies to aggregates")
            fr = params["$frame"]
            if not (isinstance(fr, list) and len(fr) == 3 and fr[0] in ("rows", "range")):
                raise SpecError(
                    f"$window {alias!r}: $frame must be ['rows'|'range', lo, hi]"
                )
            if not w.order:
                raise SpecError(f"$window {alias!r}: $frame requires $order")
            w.frame = (fr[0], _parse_frame_bound(fr[1], "low"),
                       _parse_frame_bound(fr[2], "high"))
        out.append(w)
    return out


def _parse_select(obj: object) -> list[tuple[str, Expr]]:
    if not isinstance(obj, dict):
        raise SpecError("$select must be a dict of alias -> expression")
    return [(alias, _parse_expr(body)) for alias, body in obj.items()]


def _parse_node(entity: str, body: dict) -> tuple[Node, dict]:
    """Returns (node, top-level-args) — top-level args only used at root."""
    if not isinstance(body, dict):
        raise SpecError(f"entity {entity!r} body must be a dict")
    node = Node(entity=entity)
    top: dict = {}
    how_given = False
    exists_val: bool | None = None
    for key, val in body.items():
        if key == "$filter":
            node.filters = _parse_filters(val)
        elif key == "$how":
            if val not in ("inner", "left", "right", "full", "left_semi", "left_anti"):
                raise SpecError(f"bad $how {val!r}")
            node.how = val
            how_given = True
        elif key == "$exists":
            # round 7: EXISTS/NOT-EXISTS child predicate — sugar for the
            # semi/anti join $how. The IN-subquery child predicate is the
            # same spelling ($exists: true + a child $filter on the value
            # column — Spark compiles both to one left-semi equi-join).
            if not isinstance(val, bool):
                raise SpecError(f"$exists on {entity!r} must be true or false")
            exists_val = val
        elif key == "$collect":
            node.collect = bool(val)
        elif key == "$asof":
            node.asof = _parse_asof(entity, val)
        elif key == "$theta":
            node.theta = _parse_theta(entity, val)
        elif key in ("$agg", "$groupby", "$having", "$orderby", "$limit",
                     "$offset", "$distinct", "$select", "$derive", "$window",
                     "$qualify", "$sample", "$pivot", "$unpivot", "$explode",
                     "$where", "$rollup", "$cube", "$grouping_sets",
                     "$traverse"):
            top[key] = val
        elif key.startswith("$"):
            raise SpecError(f"unknown argument {key!r} on entity {entity!r}")
        elif val is True:
            node.fields.append(key)
        elif isinstance(val, dict):
            child, child_top = _parse_node(key, val)
            if child_top:
                raise SpecError(f"aggregation args only allowed at root, found on {key!r}")
            if child.collect:
                if child.how in ("left_semi", "left_anti"):
                    raise SpecError(
                        f"$collect on {key!r} cannot combine with semi/anti $how"
                    )
                if not child.fields and not child.children:
                    raise SpecError(f"$collect on {key!r} requests no fields")
            node.children.append((key, child))
        else:
            raise SpecError(
                f"field {key!r}: expected True or nested dict, got {val!r}"
            )
    if exists_val is not None:
        if how_given:
            raise SpecError(
                f"{entity!r}: $exists and $how are mutually exclusive"
            )
        if node.collect:
            raise SpecError(f"{entity!r}: $exists cannot combine with $collect")
        if node.fields:
            raise SpecError(
                f"{entity!r}: $exists hop cannot request fields"
                f" ({node.fields}) — child columns are not visible through"
                f" a semi/anti join"
            )
        node.how = "left_semi" if exists_val else "left_anti"
    if node.asof is not None:
        if how_given or exists_val is not None:
            raise SpecError(
                f"{entity!r}: $asof picks its own join semantics —"
                f" cannot combine with $how or $exists"
            )
        if node.collect:
            raise SpecError(f"{entity!r}: $asof cannot combine with $collect")
        if node.theta:
            raise SpecError(f"{entity!r}: $asof cannot combine with $theta")
    if node.theta and node.collect:
        raise SpecError(
            f"{entity!r}: $theta cannot combine with $collect — the"
            f" residual references parent columns the pre-join groupBy"
            f" cannot see"
        )
    return node, top


_THETA_OPS = {"$eq", "$ne", "$lt", "$lte", "$gt", "$gte"}


def _parse_theta(entity: str, val: object) -> list:
    """``$theta: [[left_col, op, right_col], ...]`` — residual non-equi
    conditions ANDed onto the hop's FK equi-join. Typed SpecErrors on
    every malformed shape."""
    if not isinstance(val, list) or not val:
        raise SpecError(
            f"$theta on {entity!r} must be a non-empty list of"
            f" [left_col, op, right_col] triples"
        )
    out = []
    for item in val:
        if (
            not isinstance(item, (list, tuple))
            or len(item) != 3
            or not all(isinstance(x, str) and x for x in item)
        ):
            raise SpecError(
                f"$theta on {entity!r}: each condition must be"
                f" [left_col, op, right_col] strings, got {item!r}"
            )
        left, op, right = item
        if op not in _THETA_OPS:
            raise SpecError(
                f"$theta on {entity!r}: unknown op {op!r}"
                f" (allowed: {sorted(_THETA_OPS)})"
            )
        out.append((left, op, right))
    return out


def _parse_asof(entity: str, val: object) -> AsofSpec:
    """``$asof: {"$left_on": c, "$right_on": c, "$per": c, "$tiebreak": c,
    "$strategy"?: "backward"|"forward"|"nearest",
    "$tolerance"?: positive number, "$how"?: "inner"|"left"}`` — all
    shape violations are typed SpecErrors per the parser contract.
    ``nearest`` (round 11) matches the child CLOSEST in either
    direction (the join_asof_nearest contract: rank by |Δt|, then
    earlier child time, then tiebreak); ``$tolerance`` bounds the match
    distance in the ordering columns' units — MICROSECONDS for dates
    and timestamps (both lower to epoch µs) — and doubles as a fan-out
    prune in the join condition. ``$how`` (round 12, ADVICE r11) picks
    what happens to parents with no (in-tolerance) match: ``inner``
    (default) drops them; ``left`` keeps them with NULL child columns —
    the registered join_asof_tolerance key's freshness contract."""
    if not isinstance(val, dict):
        raise SpecError(
            f"$asof on {entity!r} must be a dict, got {type(val).__name__}"
        )
    allowed = {"$left_on", "$right_on", "$per", "$tiebreak", "$strategy",
               "$tolerance", "$how"}
    unknown = set(val) - allowed
    if unknown:
        raise SpecError(f"$asof on {entity!r}: unknown keys {sorted(unknown)}")
    required = {"$left_on", "$right_on", "$per", "$tiebreak"}
    missing = required - set(val)
    if missing:
        raise SpecError(f"$asof on {entity!r}: missing {sorted(missing)}")
    for k in required:
        if not isinstance(val[k], str) or not val[k]:
            raise SpecError(
                f"$asof on {entity!r}: {k} must be a column name,"
                f" got {val[k]!r}"
            )
    strategy = val.get("$strategy", "backward")
    if strategy not in ("backward", "forward", "nearest"):
        raise SpecError(
            f"$asof on {entity!r}: $strategy must be 'backward',"
            f" 'forward' or 'nearest', got {strategy!r}"
        )
    tolerance = val.get("$tolerance")
    if tolerance is not None and (
        isinstance(tolerance, bool)
        or not isinstance(tolerance, (int, float))
        or tolerance <= 0
    ):
        raise SpecError(
            f"$asof on {entity!r}: $tolerance must be a positive number"
            f" (ordering-column units; µs for timestamps),"
            f" got {tolerance!r}"
        )
    how = val.get("$how", "inner")
    if how not in ("inner", "left"):
        raise SpecError(
            f"$asof on {entity!r}: $how must be 'inner' (drop parents"
            f" with no in-tolerance match) or 'left' (keep them with"
            f" NULL child columns — the join_asof_tolerance contract),"
            f" got {how!r}"
        )
    return AsofSpec(
        left_on=val["$left_on"],
        right_on=val["$right_on"],
        per=val["$per"],
        tiebreak=val["$tiebreak"],
        strategy=strategy,
        tolerance=tolerance,
        how=how,
    )


def _ident(v: object, ctx: str) -> str:
    if (not isinstance(v, str)
            or not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", v)):
        raise SpecError(f"{ctx} must be a column name, got {v!r}")
    return v


def _parse_sample(obj: object) -> SampleSpec:
    """``$sample: {"$key": col, "$keep": k, "$buckets": b?}`` — the
    deterministic md5-bucket sample (keep rows whose key hashes into the
    first ``k`` of ``b`` buckets) — or, with ``"$per": stratum`` (round
    10), the stratified form: the ``k`` md5-ranked rows PER stratum
    (equal counts regardless of stratum skew — the
    sample_stratified_hash discipline). Reproducible, key-consistent,
    and engine-mirrorable; rand()-based sampling is deliberately not
    offered. All shape violations are typed SpecErrors (the r6/r7
    parser-contract audit)."""
    if not isinstance(obj, dict):
        raise SpecError(
            f"$sample must be a dict with $key/$keep[/$buckets|$per],"
            f" got {type(obj).__name__}"
        )
    extra = set(obj) - {"$key", "$keep", "$buckets", "$per"}
    if extra:
        raise SpecError(f"$sample: unknown argument(s) {sorted(extra)}")
    if "$key" not in obj or "$keep" not in obj:
        raise SpecError("$sample requires both $key and $keep")
    key = _ident(obj["$key"], "$sample.$key")
    keep = obj["$keep"]
    if not isinstance(keep, int) or isinstance(keep, bool) or keep <= 0:
        raise SpecError(f"$sample.$keep must be a positive int, got {keep!r}")
    if "$per" in obj:
        # stratified mode: $keep is a per-stratum ROW count, buckets are
        # bucket-mode machinery — mixing the two would be ambiguous
        if "$buckets" in obj:
            raise SpecError(
                "$sample: $per (stratified) and $buckets (bucket mode)"
                " are mutually exclusive"
            )
        per = _ident(obj["$per"], "$sample.$per")
        if per == key:
            raise SpecError(
                "$sample: $per must differ from $key (ranking a stratum"
                " by its own stratum column keeps everything)"
            )
        return SampleSpec(key=key, keep=keep, per=per)
    buckets = obj.get("$buckets", 256)
    if (not isinstance(buckets, int) or isinstance(buckets, bool)
            or not 2 <= buckets <= 256):
        raise SpecError(
            f"$sample.$buckets must be an int in [2, 256], got {buckets!r}"
        )
    if keep >= buckets:
        raise SpecError(
            f"$sample: $keep ({keep}) must be < $buckets ({buckets}) —"
            f" keeping every bucket is not a sample"
        )
    return SampleSpec(key=key, keep=keep, buckets=buckets)


_PIVOT_AGGS = {"$count", "$sum", "$avg", "$min", "$max"}


def _parse_pivot(obj: object) -> PivotSpec:
    """``$pivot: {"$on": col, "$values": [...], "$agg": {op: col?}}`` —
    the explicit-value-list contract is mandatory: an implicit pivot
    runs an extra distinct pass over the data to discover columns."""
    if not isinstance(obj, dict):
        raise SpecError(
            f"$pivot must be a dict with $on/$values/$agg,"
            f" got {type(obj).__name__}"
        )
    extra = set(obj) - {"$on", "$values", "$agg"}
    if extra:
        raise SpecError(f"$pivot: unknown argument(s) {sorted(extra)}")
    missing = {"$on", "$values", "$agg"} - set(obj)
    if missing:
        raise SpecError(f"$pivot requires {sorted(missing)}")
    on = _ident(obj["$on"], "$pivot.$on")
    values = obj["$values"]
    if (not isinstance(values, list) or not values
            or any(isinstance(v, (dict, list, tuple, bool)) or v is None
                   for v in values)):
        raise SpecError(
            "$pivot.$values must be a non-empty list of scalar values"
            " (the explicit column list — implicit pivots cost a distinct"
            " pass at scale)"
        )
    if len(set(values)) != len(values):
        raise SpecError("$pivot.$values must not contain duplicates")
    if len({str(v) for v in values}) != len(values):
        # 5 and "5" are distinct values but identical OUTPUT COLUMN
        # names — the frame would carry duplicate columns (ADVICE r10)
        raise SpecError(
            "$pivot.$values must be distinct as output column names"
            ' (str() forms collide, e.g. 5 vs "5")'
        )
    agg = obj["$agg"]
    if not isinstance(agg, dict) or len(agg) != 1:
        raise SpecError("$pivot.$agg must be a dict with exactly one op")
    ((op, col),) = agg.items()
    if op not in _PIVOT_AGGS:
        raise SpecError(
            f"$pivot.$agg op must be one of {sorted(_PIVOT_AGGS)},"
            f" got {op!r}"
        )
    if op == "$count":
        if col is not True:
            raise SpecError("$pivot.$agg: {\"$count\": true} is the only"
                            " $count form")
        return PivotSpec(on=on, values=values, op=op, column=None)
    return PivotSpec(
        on=on, values=values, op=op,
        column=_ident(col, f"$pivot.$agg.{op}"),
    )


def _parse_unpivot(obj: object) -> UnpivotSpec:
    """``$unpivot: {"$cols": [...], "$name": n, "$value": v}`` — stack()
    the listed columns into (name, value) long form; measures are cast
    to DOUBLE so the value column has one type."""
    if not isinstance(obj, dict):
        raise SpecError(
            f"$unpivot must be a dict with $cols/$name/$value,"
            f" got {type(obj).__name__}"
        )
    extra = set(obj) - {"$cols", "$name", "$value"}
    if extra:
        raise SpecError(f"$unpivot: unknown argument(s) {sorted(extra)}")
    missing = {"$cols", "$name", "$value"} - set(obj)
    if missing:
        raise SpecError(f"$unpivot requires {sorted(missing)}")
    cols = obj["$cols"]
    if not isinstance(cols, list) or len(cols) < 2:
        raise SpecError("$unpivot.$cols must list >= 2 columns")
    cols = [_ident(c, "$unpivot.$cols entry") for c in cols]
    if len(set(cols)) != len(cols):
        raise SpecError("$unpivot.$cols must not contain duplicates")
    name = _ident(obj["$name"], "$unpivot.$name")
    value = _ident(obj["$value"], "$unpivot.$value")
    if name == value or name in cols or value in cols:
        raise SpecError(
            "$unpivot: $name/$value must be distinct from each other and"
            " from $cols"
        )
    return UnpivotSpec(cols=cols, name=name, value=value)


def _parse_explode(obj: object) -> ExplodeSpec:
    """``$explode: "col"`` or ``{"$col": c, "$as": a?, "$pos": p?,
    "$how": inner|outer}`` — one row per array element. Lands after
    $select (so a ``$split`` result is explodable) and before $agg, so
    exploded rows feed aggregation — the token-count pipeline shape."""
    if isinstance(obj, str):
        obj = {"$col": obj}
    if not isinstance(obj, dict):
        raise SpecError(
            "$explode must be a column name or a dict with"
            " $col [$as/$pos/$how]"
        )
    extra = set(obj) - {"$col", "$as", "$pos", "$how"}
    if extra:
        raise SpecError(f"$explode: unknown argument(s) {sorted(extra)}")
    if "$col" not in obj:
        raise SpecError("$explode requires $col (the array column)")
    col = _ident(obj["$col"], "$explode.$col")
    alias = _ident(obj["$as"], "$explode.$as") if "$as" in obj else col
    pos = _ident(obj["$pos"], "$explode.$pos") if "$pos" in obj else None
    how = obj.get("$how", "inner")
    if how not in ("inner", "outer"):
        raise SpecError(f"$explode.$how must be inner or outer, got {how!r}")
    if pos is not None and pos == alias:
        raise SpecError("$explode: $pos and the element column must differ")
    return ExplodeSpec(col=col, alias=alias, pos=pos, outer=(how == "outer"))


def _parse_traverse(obj: object) -> TraverseSpec:
    """``$traverse``: typed shape checks for the reachability verb —
    every malformed spelling raises SpecError at parse time."""
    if not isinstance(obj, dict):
        raise SpecError("$traverse must be a dict")
    known = {"$seeds", "$via", "$edges", "$src", "$dst", "$max_depth",
             "$as", "$weight"}
    extra = set(obj) - known
    if extra:
        raise SpecError(f"$traverse: unknown keys {sorted(extra)}")
    if "$seeds" not in obj:
        raise SpecError("$traverse requires $seeds (a $filter-style"
                        " predicate selecting the seed rows)")
    seeds = _parse_filters(obj["$seeds"])
    _reject_correlated(seeds, "$traverse.$seeds")
    if not seeds:
        raise SpecError("$traverse.$seeds must not be empty — an"
                        " unseeded traversal reaches nothing")
    has_via, has_edges = "$via" in obj, "$edges" in obj
    if has_via == has_edges:
        raise SpecError("$traverse takes exactly one of $via (a"
                        " relationship chain) or $edges (an edge"
                        " sub-query)")
    via: "list[str] | None" = None
    edges: "QuerySpec | None" = None
    if has_via:
        raw = obj["$via"]
        if (not isinstance(raw, list) or not raw
                or not all(isinstance(r, str) and r for r in raw)):
            raise SpecError("$traverse.$via must be a non-empty list of"
                            " relationship names")
        if "$src" in obj or "$dst" in obj:
            raise SpecError("$traverse.$src/$dst only apply to $edges"
                            " mode — a $via chain's endpoints are the"
                            " entity keys")
        via = list(raw)
    else:
        raw = obj["$edges"]
        if not isinstance(raw, dict):
            raise SpecError("$traverse.$edges must be a query spec dict")
        edges = parse_spec(raw)
        if edges.traverse is not None:
            raise SpecError("$traverse.$edges must not itself contain"
                            " $traverse (no nested traversal)")
    src = _ident(obj.get("$src", "src"), "$traverse.$src")
    dst = _ident(obj.get("$dst", "dst"), "$traverse.$dst")
    if has_edges and src == dst:
        raise SpecError("$traverse.$src and $dst must name two distinct"
                        " edge columns")
    weight: "str | None" = None
    if "$weight" in obj:
        if has_via:
            raise SpecError(
                "$traverse.$weight only applies to $edges mode — a $via"
                " relationship chain has no weight column"
            )
        weight = _ident(obj["$weight"], "$traverse.$weight")
        if weight in (src, dst):
            raise SpecError(
                "$traverse.$weight must name a third edge column,"
                " distinct from $src/$dst"
            )
    max_depth: "int | None" = None
    if "$max_depth" in obj:
        md = obj["$max_depth"]
        if not isinstance(md, int) or isinstance(md, bool) or md < 1:
            raise SpecError("$traverse.$max_depth must be an int >= 1")
        max_depth = md
    alias = _ident(obj.get("$as", "dist"), "$traverse.$as")
    return TraverseSpec(seeds=seeds, via=via, edges=edges, src=src,
                        dst=dst, max_depth=max_depth, alias=alias,
                        weight=weight)


def parse_spec(spec: dict) -> QuerySpec:
    if not isinstance(spec, dict) or len(spec) != 1:
        raise SpecError("query spec must be a dict with exactly one root entity")
    ((entity, body),) = spec.items()
    root, top = _parse_node(entity, body)
    if root.collect:
        raise SpecError("$collect is only meaningful on a relationship hop")
    if root.how != "inner":
        raise SpecError("$how/$exists only apply to relationship hops,"
                        " not the root entity")
    qs = QuerySpec(root=root)
    if "$traverse" in top:
        if "$sample" in top:
            # sample-of-seeds vs sample-of-reached is undefined; the
            # $edges sub-spec may carry its own $sample if needed
            raise SpecError("$traverse is exclusive with $sample")
        qs.traverse = _parse_traverse(top["$traverse"])
    if "$select" in top:
        qs.select = _parse_select(top["$select"])
    if "$derive" in top:
        # post-aggregation computed columns: same expression DSL as
        # $select but evaluated AFTER $agg/$having (withColumn
        # semantics — an alias matching an existing column REPLACES it
        # in place, which is how an exact-decimal aggregate is emitted
        # as double without leaking the decimal to the API surface)
        qs.derive = _parse_select(top["$derive"])
    if "$groupby" in top:
        gb = top["$groupby"]
        if not isinstance(gb, list) or not all(isinstance(c, str) for c in gb):
            raise SpecError("$groupby must be a list of column names")
        qs.groupby = gb
    if "$agg" in top:
        qs.aggs = _parse_aggs(top["$agg"])
    if "$having" in top:
        if "$agg" not in top:
            raise SpecError("$having requires $agg")
        qs.having = _parse_filters(top["$having"])
        _reject_correlated(qs.having, "$having")
    if "$window" in top:
        qs.windows = _parse_window(top["$window"])
    if "$qualify" in top:
        if "$window" not in top:
            raise SpecError("$qualify requires $window")
        qs.qualify = _parse_filters(top["$qualify"])
        _reject_correlated(qs.qualify, "$qualify")
    if "$orderby" in top:
        qs.orderby = _parse_orderlist(top["$orderby"], "$orderby")
    if "$limit" in top:
        if (not isinstance(top["$limit"], int) or isinstance(top["$limit"], bool)
                or top["$limit"] < 0):
            raise SpecError("$limit must be a non-negative int")
        qs.limit = top["$limit"]
    if "$offset" in top:
        if (not isinstance(top["$offset"], int)
                or isinstance(top["$offset"], bool) or top["$offset"] < 0):
            raise SpecError("$offset must be a non-negative int")
        if "$orderby" not in top:
            raise SpecError("$offset requires $orderby (unordered pagination"
                            " is nondeterministic)")
        qs.offset = top["$offset"]
    if "$distinct" in top:
        qs.distinct = bool(top["$distinct"])
    if "$sample" in top:
        qs.sample = _parse_sample(top["$sample"])
    if "$where" in top:
        qs.where = _parse_filters(top["$where"])
        _reject_correlated(qs.where, "$where")
    if "$explode" in top:
        # exclusive with the other projection-defining reshapes — two
        # reshape stages in one node have no defined order; chain two
        # queries instead. $agg/$groupby ARE allowed: exploded rows
        # feeding aggregation is the verb's main use.
        conflicts = {"$pivot", "$unpivot"} & set(top)
        if conflicts:
            raise SpecError(f"$explode is exclusive with {sorted(conflicts)}")
        qs.explode = _parse_explode(top["$explode"])
    if "$pivot" in top:
        conflicts = {"$agg", "$having", "$window", "$qualify",
                     "$unpivot", "$distinct", "$explode"} & set(top)
        if conflicts:
            raise SpecError(
                f"$pivot is exclusive with {sorted(conflicts)} — it IS the"
                f" aggregation stage"
            )
        if not qs.groupby:
            raise SpecError("$pivot requires $groupby (the row-key columns)")
        qs.pivot = _parse_pivot(top["$pivot"])
        if qs.pivot.on in qs.groupby:
            raise SpecError("$pivot.$on must not also be a $groupby column")
        clash = [v for v in qs.pivot.values if str(v) in qs.groupby]
        if clash:
            raise SpecError(
                f"$pivot.$values {clash!r} collide with $groupby column"
                f" names — the output frame would carry duplicate columns"
            )
    if "$unpivot" in top:
        conflicts = {"$agg", "$groupby", "$having", "$window", "$qualify",
                     "$distinct", "$explode"} & set(top)
        if conflicts:
            raise SpecError(f"$unpivot is exclusive with {sorted(conflicts)}")
        qs.unpivot = _parse_unpivot(top["$unpivot"])
    grouping_keys = {"$rollup", "$cube", "$grouping_sets"} & set(top)
    if grouping_keys:
        # round 12 (VERDICT r11 item 3): subtotal grids. One mode at a
        # time; all three need $groupby (the grid columns) + $agg (the
        # measures), and are exclusive with the other projection-defining
        # stages ($pivot/$unpivot) and $distinct (subtotal rows are
        # already distinct per (keys, grouping set); a cross-set distinct
        # would silently merge a subtotal with an identical NULL-data
        # row).
        if len(grouping_keys) > 1:
            raise SpecError(
                f"only one of $rollup/$cube/$grouping_sets per query,"
                f" got {sorted(grouping_keys)}"
            )
        mode = next(iter(grouping_keys))
        conflicts = {"$pivot", "$unpivot", "$distinct"} & set(top)
        if conflicts:
            raise SpecError(f"{mode} is exclusive with {sorted(conflicts)}")
        if not qs.groupby:
            raise SpecError(f"{mode} requires $groupby (the grid columns)")
        if not qs.aggs:
            raise SpecError(f"{mode} requires $agg (the measures)")
        if mode in ("$rollup", "$cube"):
            if top[mode] is not True:
                raise SpecError(f"{mode} takes only true, got {top[mode]!r}")
            qs.grouping = mode[1:]  # "rollup" | "cube"
        else:
            sets = top["$grouping_sets"]
            if not isinstance(sets, list) or not sets:
                raise SpecError(
                    "$grouping_sets must be a non-empty list of column"
                    " lists (use [] inside for the grand total)"
                )
            parsed_sets: list[list[str]] = []
            for s in sets:
                if not isinstance(s, list) or not all(
                    isinstance(c, str) and not isinstance(c, bool)
                    for c in s
                ):
                    raise SpecError(
                        f"$grouping_sets: each set must be a list of"
                        f" column names, got {s!r}"
                    )
                if len(set(s)) != len(s):
                    raise SpecError(
                        f"$grouping_sets: duplicate column in set {s!r}"
                    )
                bad = [c for c in s if c not in qs.groupby]
                if bad:
                    raise SpecError(
                        f"$grouping_sets: {bad!r} not in $groupby"
                        f" {qs.groupby!r} — every set column must be a"
                        f" grid column"
                    )
                parsed_sets.append(list(s))
            seen = {tuple(s) for s in parsed_sets}
            if len(seen) != len(parsed_sets):
                raise SpecError("$grouping_sets must not repeat a set")
            qs.grouping = parsed_sets
    for a in qs.aggs:
        if a.op == "$grouping":
            if qs.grouping is None:
                raise SpecError(
                    f"$agg entry {a.alias!r}: $grouping is only"
                    f" meaningful under $rollup/$cube/$grouping_sets"
                )
            if a.column not in qs.groupby:
                raise SpecError(
                    f"$agg entry {a.alias!r}: $grouping column"
                    f" {a.column!r} must be a $groupby column"
                    f" (have {qs.groupby!r})"
                )
    if qs.aggs and not qs.groupby:
        # global aggregation is fine; groupby optional
        pass
    return qs


@dataclass
class SetSpec:
    """A set-operation query: op over >= 2 branch queries (each a full
    QuerySpec or a nested SetSpec), with optional outer ordering/pagination
    applied AFTER the combine (SQL ORDER BY/LIMIT scope on a union)."""

    op: str  # one of SET_OPS
    branches: list  # QuerySpec | SetSpec
    orderby: list[tuple[str, str]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None


def _nonneg_int(v: object, ctx: str) -> int:
    if not isinstance(v, int) or isinstance(v, bool) or v < 0:
        raise SpecError(f"{ctx} must be a non-negative int")
    return v


# leading digit 1-9: a zero-length window/gap/watermark would surface
# as a raw AnalysisException instead of the DSL's typed SpecError
_DURATION_RE = re.compile(r"^[1-9]\d* (?:second|minute|hour|day)s?$")

# streaming-safe aggregate subset: merge-able accumulators the state
# store supports in every output mode (no collect/percentile/median —
# those are batch-only shapes). $approx_count_distinct joins in round
# 15 (M26): HLL++ registers are exactly the merge-able-state contract —
# exact count_distinct stays refused (distinct aggregates are
# unsupported in streaming; the sketch IS the streaming spelling).
# $approx_percentile joins the same round (M27): the quantile sketch
# merges across micro-batches ($median/$percentile stay batch-only —
# exact quantiles need the full sorted set).
_STREAM_AGG_OPS = {"$count", "$sum", "$avg", "$min", "$max",
                   "$approx_count_distinct", "$approx_percentile"}


def _stream_duration(v: object, ctx: str) -> str:
    if not isinstance(v, str) or not _DURATION_RE.match(v):
        raise SpecError(
            f"{ctx} must be a duration string like '1 hour' /"
            f" '15 minutes' — got {v!r}"
        )
    return v


def _parse_stream(obj: object) -> StreamSpec:
    """``{"$stream": {...}}`` — typed shape checks for the streaming
    surface (round 14, M21 engine-half)."""
    if not isinstance(obj, dict):
        raise SpecError("$stream must be a dict")
    known = {"$source", "$window", "$session_gap", "$groupby", "$agg",
             "$watermark", "$join", "$distinct"}
    extra = set(obj) - known
    if extra:
        raise SpecError(f"$stream: unknown keys {sorted(extra)}")
    source = obj.get("$source")
    if not isinstance(source, str) or not source:
        raise SpecError("$stream requires $source (the streaming entity)")
    has_win, has_sess = "$window" in obj, "$session_gap" in obj
    if has_win and has_sess:
        raise SpecError("$stream takes at most one of $window (tumbling/"
                        "sliding) or $session_gap (session windows)")
    if not has_win and not has_sess and "$distinct" not in obj:
        # windowless pass-through with no dedup is the batch scan; the
        # historical (pre-M30) message named the exactly-one rule
        raise SpecError("$stream takes exactly one of $window (tumbling/"
                        "sliding) or $session_gap (session windows) — or"
                        " $distinct for a windowless dedup pass-through")
    window_size = slide = session_gap = None
    if has_win:
        w = obj["$window"]
        if not isinstance(w, dict) or "$size" not in w or (
                set(w) - {"$size", "$slide"}):
            raise SpecError("$stream.$window must be {'$size': duration,"
                            " optional '$slide': duration}")
        window_size = _stream_duration(w["$size"], "$stream.$window.$size")
        if "$slide" in w:
            slide = _stream_duration(w["$slide"], "$stream.$window.$slide")
    elif has_sess:
        session_gap = _stream_duration(obj["$session_gap"],
                                       "$stream.$session_gap")
    gb = obj.get("$groupby", [])
    if not isinstance(gb, list) or not all(
            isinstance(c, str) and c for c in gb):
        raise SpecError("$stream.$groupby must be a list of column names")
    if session_gap is not None and not gb:
        # Spark's streaming session windows require at least one
        # grouping column besides session_window; surface the typed
        # error at parse time instead of a raw AnalysisException.
        raise SpecError("$stream.$session_gap requires a non-empty"
                        " $groupby (streaming session windows need at"
                        " least one grouping key besides the window)")
    # -- round 16 (M30): $distinct — watermarked streaming dedup -------
    distinct = None
    if "$distinct" in obj:
        d = obj["$distinct"]
        if (not isinstance(d, list) or not d
                or not all(isinstance(c, str) and c for c in d)):
            raise SpecError("$stream.$distinct must be a non-empty list"
                            " of column names (the dedup key)")
        if len(set(d)) != len(d):
            raise SpecError("$stream.$distinct must not repeat a column")
        if "$watermark" not in obj:
            raise SpecError(
                "$stream.$distinct requires $watermark — without one the"
                " dedup state grows forever on an unbounded stream"
                " (evictability is part of the dedup contract)"
            )
        distinct = list(d)
    windowless = not has_win and not has_sess
    if windowless:
        # dedup pass-through mode: the deduped rows ARE the result
        for k in ("$agg", "$groupby"):
            if k in obj:
                raise SpecError(
                    f"$stream: {k} needs a $window or $session_gap —"
                    f" a windowless $distinct is a dedup pass-through"
                )
        aggs = []
    else:
        if "$agg" not in obj:
            raise SpecError("$stream requires $agg (a windowless"
                            " pass-through is the batch scan — use the"
                            " entity query)")
        aggs = _parse_aggs(obj["$agg"])
        for a in aggs:
            if a.op not in _STREAM_AGG_OPS:
                raise SpecError(
                    f"$stream.$agg {a.alias!r}: {a.op} is not"
                    f" streaming-safe"
                    f" (supported: {sorted(_STREAM_AGG_OPS)})"
                )
    # -- round 16 (M29): $join — stream ⋈ static dimension enrich ------
    join = None
    if "$join" in obj:
        j = obj["$join"]
        if not isinstance(j, dict):
            raise SpecError("$stream.$join must be a dict")
        jextra = set(j) - {"$entity", "$on", "$fields", "$how"}
        if jextra:
            raise SpecError(f"$stream.$join: unknown keys {sorted(jextra)}")
        ent = j.get("$entity")
        if not isinstance(ent, str) or not ent:
            raise SpecError("$stream.$join requires $entity (the static"
                            " dimension table)")
        on = j.get("$on")
        if (not isinstance(on, dict) or not on
                or not all(isinstance(k, str) and k and isinstance(v, str)
                           and v for k, v in on.items())):
            raise SpecError(
                "$stream.$join requires $on, a non-empty dict of"
                " stream_column -> dimension_column equi-keys"
            )
        flds = j.get("$fields")
        if (not isinstance(flds, list) or not flds
                or not all(isinstance(c, str) and c for c in flds)):
            raise SpecError(
                "$stream.$join requires $fields, a non-empty list of"
                " dimension columns to carry onto the stream"
            )
        if len(set(flds)) != len(flds):
            raise SpecError("$stream.$join.$fields must not repeat a"
                            " column")
        how = j.get("$how", "inner")
        if how not in ("inner", "left"):
            raise SpecError(
                f"$stream.$join.$how must be 'inner' or 'left', got"
                f" {how!r} — other modes would need the static side to"
                f" see the whole stream"
            )
        join = StreamJoin(entity=ent, on=dict(on), fields=list(flds),
                          how=how)
    watermark = None
    if "$watermark" in obj:
        watermark = _stream_duration(obj["$watermark"], "$stream.$watermark")
    return StreamSpec(source=source, window_size=window_size, slide=slide,
                      session_gap=session_gap, groupby=gb, aggs=aggs,
                      watermark=watermark, join=join, distinct=distinct)


def _parse_stream_join(obj: object) -> StreamStreamJoinSpec:
    """``{"$stream_join": {...}}`` — typed shape checks for the
    stream ⋈ stream interval join (round 16, M33)."""
    if not isinstance(obj, dict):
        raise SpecError("$stream_join must be a dict")
    known = {"$source", "$left", "$right", "$on", "$within",
             "$watermark", "$how"}
    extra = set(obj) - known
    if extra:
        raise SpecError(f"$stream_join: unknown keys {sorted(extra)}")
    source = obj.get("$source")
    if not isinstance(source, str) or not source:
        raise SpecError("$stream_join requires $source (the streaming"
                        " entity both sides read)")
    how = obj.get("$how", "inner")
    if how != "inner":
        raise SpecError(
            f"$stream_join.$how {how!r}: only 'inner' is spelled —"
            f" outer stream-stream emission is watermark-delayed by"
            f" construction (the raw stream_left_outer_join key"
            f" carries that discipline)"
        )
    on = obj.get("$on")
    if (not isinstance(on, list) or not on
            or not all(isinstance(c, str) and c for c in on)):
        raise SpecError(
            "$stream_join requires $on, a non-empty list of shared"
            " equi-key column names"
        )
    if len(set(on)) != len(on):
        raise SpecError("$stream_join.$on must not repeat a column")
    bad = [c for c in on if c in ("ts", "event_id")]
    if bad:
        raise SpecError(
            f"$stream_join.$on: {bad} are the join's time/identity"
            f" columns — they cannot be equi-keys"
        )
    if "$within" not in obj:
        raise SpecError(
            "$stream_join requires $within (the right-side event-time"
            " bound: right ts in (left ts, left ts + within]) — an"
            " unbounded stream-stream join buffers both streams"
            " forever"
        )
    within = _stream_duration(obj["$within"], "$stream_join.$within")
    if "$watermark" not in obj:
        raise SpecError(
            "$stream_join requires $watermark — the watermark pair is"
            " what lets the join EVICT buffered state"
        )
    watermark = _stream_duration(obj["$watermark"],
                                 "$stream_join.$watermark")
    filters = {}
    for side in ("$left", "$right"):
        preds = []
        if side in obj:
            preds = _parse_filters(obj[side])
            _reject_correlated(preds, f"$stream_join.{side}")
        filters[side] = preds
    return StreamStreamJoinSpec(
        source=source, left_filter=filters["$left"],
        right_filter=filters["$right"], on=list(on), within=within,
        watermark=watermark,
    )


def parse_query(
    spec: dict,
) -> "QuerySpec | SetSpec | StreamSpec | StreamStreamJoinSpec":
    """Parse a plain single-root query, a set-operation query
    ({"$union": [specA, specB], ...}), or a streaming query
    ({"$stream": {...}} / {"$stream_join": {...}})."""
    if not isinstance(spec, dict):
        raise SpecError("query spec must be a dict")
    if "$stream" in spec:
        extra = set(spec) - {"$stream"}
        if extra:
            raise SpecError(
                f"$stream: unknown sibling keys {sorted(extra)} — the"
                f" streaming spec is self-contained"
            )
        return _parse_stream(spec["$stream"])
    if "$stream_join" in spec:
        extra = set(spec) - {"$stream_join"}
        if extra:
            raise SpecError(
                f"$stream_join: unknown sibling keys {sorted(extra)} —"
                f" the streaming spec is self-contained"
            )
        return _parse_stream_join(spec["$stream_join"])
    if "$from" in spec:
        # M35 (round 16b): derived-table composition — the outer body
        # queries the INNER RESULT like a frame. The outer grammar is
        # the ordinary entity-body grammar minus the catalog-dependent
        # verbs (relationship hops, $sample, $traverse): a derived
        # frame has no FK edges to hop and no scan to bucket-sample —
        # spell those inside the inner query instead.
        inner_raw = spec["$from"]
        if not isinstance(inner_raw, dict):
            raise SpecError("$from must be a query spec dict")
        body = {k: v for k, v in spec.items() if k != "$from"}
        if not body:
            raise SpecError(
                "$from with an empty outer body is just the inner"
                " query — request fields or add verbs"
            )
        inner = parse_query(inner_raw)
        if isinstance(inner, (StreamSpec, StreamStreamJoinSpec)):
            raise SpecError(
                "$from: streaming specs cannot be composed — run the"
                " replay and query the batch result"
            )
        qs = parse_spec({"$from": body})
        if qs.root.children:
            raise SpecError(
                "$from: relationship hops are not available on a"
                " derived frame (no catalog FK edges) — join inside"
                " the inner query"
            )
        if qs.sample is not None:
            raise SpecError(
                "$from is exclusive with $sample ($sample is a"
                " scan-level verb — put it inside the inner query)"
            )
        if qs.traverse is not None:
            raise SpecError(
                "$from is exclusive with $traverse (traversal roots"
                " at a catalog entity)"
            )
        qs.from_inner = inner
        return qs
    if "$join" in spec:
        # M41 (round 16b): ad-hoc equi-join of two query frames — the
        # outer body then queries the joined frame exactly like $from.
        jraw = spec["$join"]
        if not isinstance(jraw, dict):
            raise SpecError("$join must be a dict with $left/$right/$on")
        extra = set(jraw) - {"$left", "$right", "$on", "$how"}
        if extra:
            raise SpecError(f"$join: unknown keys {sorted(extra)}")
        for side in ("$left", "$right"):
            if side not in jraw or not isinstance(jraw[side], dict):
                raise SpecError(f"$join requires {side} as a query spec"
                                f" dict")
        on = jraw.get("$on")
        if (not isinstance(on, dict) or not on
                or not all(isinstance(k, str) and isinstance(v, str)
                           for k, v in on.items())):
            raise SpecError(
                "$join.$on must be a non-empty {left_col: right_col}"
                " map (equi keys only — a cross join is deliberately"
                " not offered)"
            )
        how = jraw.get("$how", "inner")
        if how not in ("inner", "left", "right", "full"):
            raise SpecError(
                f"$join.$how must be inner/left/right/full — got {how!r}"
            )
        sides = []
        for side in ("$left", "$right"):
            parsed = parse_query(jraw[side])
            if isinstance(parsed, (StreamSpec, StreamStreamJoinSpec)):
                raise SpecError(
                    f"$join{side}: streaming specs cannot be composed —"
                    f" the $stream verb has its own $join"
                )
            sides.append(parsed)
        body = {k: v for k, v in spec.items() if k != "$join"}
        if not body:
            raise SpecError(
                "$join with an empty outer body — request fields or"
                " add verbs (the joined frame's columns are its left"
                " columns plus the right non-key columns)"
            )
        qs = parse_spec({"$join": body})
        if qs.root.children:
            raise SpecError(
                "$join: relationship hops are not available on a"
                " joined frame — join inside a branch instead"
            )
        if qs.sample is not None:
            raise SpecError("$join is exclusive with $sample")
        if qs.traverse is not None:
            raise SpecError("$join is exclusive with $traverse")
        qs.from_inner = JoinFramesSpec(sides[0], sides[1], dict(on), how)
        return qs
    ops = SET_OPS & set(spec)
    if not ops:
        return parse_spec(spec)
    if len(ops) > 1:
        raise SpecError(f"only one set operator per level, got {sorted(ops)}")
    op = next(iter(ops))
    extra = set(spec) - {op, "$orderby", "$limit", "$offset"}
    if extra:
        raise SpecError(
            f"{op}: unknown sibling keys {sorted(extra)}"
            f" (only $orderby/$limit/$offset combine with a set op)"
        )
    raw = spec[op]
    if not isinstance(raw, list) or not all(isinstance(b, dict) for b in raw):
        raise SpecError(f"{op} must be a list of query specs")
    if op in ("$intersect", "$except", "$intersect_all", "$except_all"):
        if len(raw) != 2:
            raise SpecError(f"{op} takes exactly 2 branches, got {len(raw)}")
    elif len(raw) < 2:
        raise SpecError(f"{op} needs at least 2 branches, got {len(raw)}")
    branches = []
    for b in raw:
        pb = parse_query(b)
        if isinstance(pb, (StreamSpec, StreamStreamJoinSpec)):
            # code-review r16: without this guard a streaming branch
            # parses fine and then crashes raw inside the batch
            # compiler (AttributeError on qs.traverse) — set
            # operations combine BATCH queries
            raise SpecError(
                f"{op}: streaming specs ($stream/$stream_join) cannot"
                f" be set-operation branches — run the replay and"
                f" combine the batch results instead"
            )
        branches.append(pb)
    ss = SetSpec(op=op, branches=branches)
    if "$orderby" in spec:
        ss.orderby = _parse_orderlist(spec["$orderby"], "$orderby")
    if "$limit" in spec:
        ss.limit = _nonneg_int(spec["$limit"], "$limit")
    if "$offset" in spec:
        if not ss.orderby:
            raise SpecError("$offset requires $orderby (unordered pagination"
                            " is nondeterministic)")
        ss.offset = _nonneg_int(spec["$offset"], "$offset")
    return ss
