"""Keyed-upsert merge kernel — the reference's core operator (O5/O6).

Reference semantics (/root/reference/db/ops.go:11-122): between flushes
the sink buffers at most ONE pending operation per ``(table, pk)``:

* ``CREATE`` when *any* op is already pending       -> error
  ("insert already exists", db/ops.go:29-31)
* ``CREATE`` injects the pk into the row data        (db/ops.go:37-39)
* ``UPDATE`` after ``CREATE``/``UPDATE``: field-wise merge,
  last-writer-wins per field                         (db/ops.go:64-75,
  db/operations.go:64-73)
* ``UPDATE`` after ``DELETE``                        -> error
  ("update after delete", db/ops.go:65-67)
* ``DELETE`` overwrites any pending op               (db/ops.go:108-121)
* ``UNSET`` ops are skipped                          (sinker.go:169-171)

Spark-first design: the fold runs *distributively* — group the window's
changes by ``(table, pk)``, sort each group's ops by
``(block_num, ordinal)`` and derive the folded state with pure
whole-stage-codegen array expressions (see the shape-lemma notes above
``_BAD_CREATE_POS``; no lambda, no Python in the row path, no
driver-side state).  Scale notes:

* the only shuffle is the groupBy on ``(table, pk)`` — exactly the key
  the downstream apply-join needs, so Catalyst reuses the partitioning;
* per-group state is one struct (op, fields-map, err): memory is O(keys
  per partition), never O(window);
* semantic violations surface as an ``err`` field folded through the
  lambda, checked with a cheap ``limit(1)`` probe instead of a collect.

A flat-aggregate rewrite (error flags from group scalars — ``n_create``
/ ``first_create_seq`` / ``first_delete_seq`` / ``last_update_seq`` —
plus per-field last-wins via exploded ``(pk, field)`` ``max_by`` and a
regroup) was prototyped and measured against this fold on the sf0.1
``cdc_merge`` replay: values match exactly, but the flat plan needs
three exchanges (group scalars, field-level, regroup) versus the fold's
one and ran 2.0x SLOWER (median 1.35 s vs 0.68 s, local[32]).  The
fold's collect_list is bounded by ops-per-pk-per-window (the
reference's own buffer bound, db/ops.go:11), so the single-shuffle
shape wins at cluster scale too; the rewrite is documented here as a
rejected alternative, not kept as code.

Applying the reduced ops to target-table state is a single full-outer
shuffle join on the pk — the Parquet-world replacement for ClickHouse
mutations (``ALTER TABLE .. UPDATE`` / ``DELETE``,
/root/reference/db/operations.go:93-111).  At 100 TB the target should
be bucketed/partitioned by pk so the join co-locates and only affected
partitions rewrite (merge-on-write).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
from substreams_sink_clickhouse_spark.errors import MergeSemanticsError
from substreams_sink_clickhouse_spark.functions.coercion import coerce_sql

#: The fold is expressed WITHOUT a higher-order ``aggregate`` lambda.
#: An earlier version folded each group's sorted ops with a Catalyst
#: ``aggregate(array_sort(...), ..., (acc, x) -> CASE ...)`` lambda;
#: higher-order functions are CodegenFallback (interpreted per
#: element), and the lambda's per-step named_struct/map_concat
#: allocation measured ~100 ms of the sf0.1 cdc_merge replay on its
#: own (tools/profile_cdc_merge.py).  The reformulation below computes
#: the IDENTICAL result — including the frozen pre-error state and the
#: reference's two error messages (db/ops.go:30, db/ops.go:66) — from
#: whole-stage-codegen expressions only:
#:
#: * each row contributes its field map as an ENTRIES array
#:   (``map_entries``), with the pk entry appended right after a
#:   CREATE's own fields (the fold injected pk at exactly that point,
#:   db/ops.go:37-39);
#: * the group aggregates ONE ``sort_array(collect_list(struct(seq,
#:   op, ent)))`` — naturally orderable because the map was converted
#:   to entries (maps are not orderable; this is why the old version
#:   needed a comparator lambda).  Ties on (block_num, ordinal) break
#:   on (op, entries) deterministically, where the old comparator fell
#:   back to collect order (= partition layout);
#: * op/err/fields derive from the sorted array with array_position /
#:   slice / flatten / map_from_entries — all codegen — using the
#:   non-error shape lemma: a sequence folds without error iff it
#:   matches (CREATE)? UPDATE* DELETE* (any CREATE not in first
#:   position errors as duplicate-insert; any UPDATE after a DELETE
#:   errors as update-after-delete);
#: * last-writer-wins per field falls out of
#:   ``map_from_entries(flatten(entries-in-seq-order))`` under
#:   ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` — the same policy the
#:   old fold's ``map_concat`` relied on.
#:
#: Equivalence is pinned by tests/test_merge_property.py (random op
#: sequences vs the sequential Python model of db/ops.go) and the unit
#: suite's error-path tests.
#:
#: ``__ops``/``__ents`` are GetArrayStructFields extractions (codegen,
#: not lambdas); positions are 1-based (array_position/element_at).
_BAD_CREATE_POS = """
CASE
  WHEN array_position(__ops, 'CREATE') = 0 THEN 0
  WHEN array_position(__ops, 'CREATE') > 1 THEN array_position(__ops, 'CREATE')
  WHEN array_position(slice(__ops, 2, size(__ops) - 1), 'CREATE') = 0 THEN 0
  ELSE array_position(slice(__ops, 2, size(__ops) - 1), 'CREATE') + 1
END
"""

_BAD_UPDATE_POS = """
CASE
  WHEN array_position(__ops, 'DELETE') = 0 THEN 0
  WHEN array_position(slice(__ops, array_position(__ops, 'DELETE') + 1,
                            size(__ops)), 'UPDATE') = 0 THEN 0
  ELSE array_position(slice(__ops, array_position(__ops, 'DELETE') + 1,
                            size(__ops)), 'UPDATE')
       + array_position(__ops, 'DELETE')
END
"""

#: Pending-op kind of the non-error PREFIX ending just before position
#: ``{pos}`` (exclusive): the prefix matches (C)? U* D*, so its folded
#: op is DELETE if it contains one, else CREATE iff it starts with one,
#: else UPDATE.
_PREFIX_OP = """
CASE
  WHEN array_position(__ops, 'DELETE') > 0
       AND array_position(__ops, 'DELETE') < {pos} THEN 'DELETE'
  WHEN __ops[0] = 'CREATE' THEN 'CREATE'
  ELSE 'UPDATE'
END
"""

#: Duplicate (block_num, ordinal) within one (table, pk) group: the
#: reference folds ops in ARRIVAL order, so a tied UPDATE-then-DELETE
#: folds to a clean DELETE (db/ops.go); a distributed fold has no
#: arrival order to honor — collect order is partition layout, not the
#: wire — so rather than silently picking a tie-break that can invert
#: the reference's result, the kernel surfaces the duplicate as an
#: explicit error state (MIGRATION.md "Merge tie-break" entry).  Wire
#: ordinals are unique per block in practice (the substreams sink
#: assigns them monotonically), so this is unreachable on well-formed
#: input.  BYTE-IDENTICAL redeliveries (same seq AND op AND fields —
#: the normal at-least-once replay case, which the reference's
#: arrival-order fold absorbs harmlessly) are collapsed by
#: ``array_distinct`` BEFORE this check, so only truly conflicting
#: ties — same seq, different payload — reach the error state.
_ERR_EXPR = f"""
CASE
  WHEN __dup
    THEN 'duplicate (block_num, ordinal): arrival order is undefined in a distributed fold'
  WHEN __bad_u > 0 AND (__bad_c = 0 OR __bad_u < __bad_c)
    THEN 'update a deleted row'
  WHEN __bad_c > 0
    THEN concat('duplicate insert: pk already has a pending ',
                {_PREFIX_OP.format(pos='__bad_c')})
  ELSE cast(null as string)
END
"""

#: Folded op: frozen prefix op on error, else the shape-lemma result.
_OP_EXPR = f"""
CASE
  WHEN __err IS NOT NULL THEN {_PREFIX_OP.format(pos='__errpos')}
  WHEN array_position(__ops, 'DELETE') > 0 THEN 'DELETE'
  WHEN __ops[0] = 'CREATE' THEN 'CREATE'
  ELSE 'UPDATE'
END
"""

#: Folded fields: frozen prefix merge on error (empty once the prefix
#: saw a DELETE — db/ops.go:108-121 clears fields), else empty for a
#: surviving DELETE, else the last-wins union of every op's entries in
#: sequence order (LAST_WIN dedup).
_FIELDS_EXPR = """
CASE
  WHEN __dup THEN cast(map() as map<string,string>)
  WHEN __err IS NOT NULL THEN
    CASE
      WHEN array_position(__ops, 'DELETE') > 0
           AND array_position(__ops, 'DELETE') < __errpos
        THEN cast(map() as map<string,string>)
      ELSE map_from_entries(flatten(slice(__ents, 1, __errpos - 1)))
    END
  WHEN array_position(__ops, 'DELETE') > 0 THEN cast(map() as map<string,string>)
  ELSE map_from_entries(flatten(__ents))
END
"""


def reduce_changes(changes: DataFrame, primary_keys: dict[str, str]) -> DataFrame:
    """Collapse a window of changes to <=1 op per (table, pk).

    ``primary_keys`` maps table name -> pk column name (reference
    default ``id``, db/db.go:121-124).  Returns
    ``(table, pk, pk_name, op, fields, err)`` with ``op`` in
    CREATE|UPDATE|DELETE (NONE rows — all-UNSET groups — are dropped).

    The change window's field payload is accepted as EITHER a
    ``fields`` map column or a pre-built ``fields_entries``
    ``array<struct<key:string,value:string>>`` column (preferred when
    both are present).  The kernel works on entry arrays internally;
    a producer that already has entries (the wire format itself is a
    repeated Field message, pb/.../database.pb.go:201-209) can hand
    them over directly and skip a map build + map_entries round-trip.
    """
    # The merge's map_from_entries depends on LAST_WIN dedup (see
    # _FIELDS_EXPR); a stock session carries EXCEPTION and would throw
    # on a re-updated field.  Set it here so the kernel is correct
    # standalone, not only behind tune_session.
    changes.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # Spark string literals honor backslash escapes by default, so a
    # backslash in a name must double too (else 'a\b' parses as an
    # escape sequence)
    esc = lambda s: s.replace("\\", "\\\\").replace("'", "''")  # noqa: E731
    if primary_keys:
        pk_map_sql = "map(" + ", ".join(
            f"'{esc(k)}', '{esc(v)}'" for k, v in primary_keys.items()
        ) + ")"
        pk_name_sql = f"coalesce({pk_map_sql}[table], 'id')"
    else:
        pk_name_sql = "'id'"
    # Per-row (pre-aggregate, all codegen): normalize op, compute the
    # pk column name, and convert the field map to an ENTRIES array —
    # a CREATE appends its pk entry right after its own fields, which
    # is exactly where the reference injects it (db/ops.go:37-39), so
    # a later UPDATE to the pk field still wins under LAST_WIN.
    if "fields_entries" in changes.columns:
        raw_ent = (
            "coalesce(fields_entries, "
            "cast(array() as array<struct<key:string,value:string>>))"
        )
    else:
        raw_ent = "map_entries(coalesce(fields, cast(map() as map<string,string>)))"
    # Plans here are built as a handful of ``selectExpr`` passes over
    # composed SQL strings — ONE py4j round-trip each — with Generate
    # barriers between derivation layers.  Two measured reasons:
    # (1) assembling these projections Column-by-Column costs ~2,000
    # py4j round-trips (~0.35 s of pure socket latency per cdc_merge
    # plan build, cProfile); (2) without barriers CollapseProject
    # textually inlines each intermediate (``__bad_c`` etc.) into
    # every downstream reference, so the tree the optimizer and
    # codegen must chew grows multiplicatively — measured as ~0.4 s of
    # plan build+optimize per cdc_merge compile.
    pre = changes.selectExpr(
        "table",
        "pk",
        "named_struct('block_num', block_num, 'ordinal', ordinal) AS seq",
        "upper(op) AS op",
        f"""CASE WHEN upper(op) = 'CREATE' THEN concat(
                   {raw_ent},
                   array(named_struct('key', {pk_name_sql}, 'value', pk)))
                 ELSE {raw_ent} END AS __ent""",
    ).where("op IN ('CREATE', 'UPDATE', 'DELETE')")
    # ONE aggregate per (table, pk): the naturally-sorted event list.
    # sort_array needs no comparator lambda because the map became an
    # entries array (orderable).  array_distinct collapses byte-equal
    # redeliveries (at-least-once replay of the same wire op) so they
    # fold harmlessly instead of tripping the tie guard; first-occurrence
    # order over an already-sorted array preserves the sort.
    grouped = pre.groupBy("table", "pk").agg(
        F.expr(
            "array_distinct(sort_array(collect_list(named_struct("
            "'seq', seq, 'op', op, 'ent', __ent))))"
        ).alias("__evs")
    )
    # Layer 1 barrier: materialize the ops/entries arrays and the two
    # bad-op positions once, so layer 2's CASEs reference them as plain
    # columns instead of inlining the array_position/slice trees.
    layer1 = grouped.selectExpr(
        "table",
        "pk",
        f"""explode(array(named_struct(
              'ops', __evs.op,
              'ents', __evs.ent,
              'dup', size(__evs.seq) != size(array_distinct(__evs.seq)),
              'bad_c', {_BAD_CREATE_POS.replace("__ops", "__evs.op")},
              'bad_u', {_BAD_UPDATE_POS.replace("__ops", "__evs.op")}))) AS __d""",
    )
    # Layer 2 barrier: the folded (op, fields, err) struct, evaluated
    # ONCE per group.  Downstream, apply_table_ops references
    # ``fields`` once per target column (getItem + map_contains_key
    # per field); without the barrier CollapseProject inlines the
    # map_from_entries(flatten(...)) merge into EVERY reference, so an
    # N-column table rebuilds the merged map N+1 times (measured: the
    # full sf0.1 kernel 713 ms inlined vs 388 ms with a barrier).
    # Predicates cannot push through a Generate, so the single
    # evaluation survives whatever the caller stacks on top.
    errpos = (
        "(CASE WHEN __bad_u > 0 AND (__bad_c = 0 OR __bad_u < __bad_c) "
        "THEN __bad_u ELSE __bad_c END)"
    )
    # ``__err IS NOT NULL`` ≡ some bad position exists — the flag form
    # keeps the op/fields trees from inlining the whole err CASE.
    has_err = "(__dup OR __bad_c > 0 OR __bad_u > 0)"

    def _on_layer1(expr: str) -> str:
        """Re-anchor an __ops/__ents/__bad_* template onto the exploded
        layer-1 struct so no intermediate unpack select is needed."""
        return (
            expr.replace("__err IS NOT NULL", has_err)
            .replace("__errpos", errpos)
            .replace("__dup", "__d.dup")
            .replace("__bad_c", "__d.bad_c")
            .replace("__bad_u", "__d.bad_u")
            .replace("__ops", "__d.ops")
            .replace("__ents", "__d.ents")
        )

    return layer1.selectExpr(
        "table",
        "pk",
        f"explode(array(named_struct('op', {_on_layer1(_OP_EXPR)}, "
        f"'fields', {_on_layer1(_FIELDS_EXPR)}, "
        f"'err', {_on_layer1(_ERR_EXPR)}))) AS folded",
    ).selectExpr(
        "table",
        "pk",
        f"{pk_name_sql} AS pk_name",
        "folded.op AS op",
        "folded.fields AS fields",
        "folded.err AS err",
    )


def check_merge_errors(reduced: DataFrame) -> None:
    """Raise if any group folded to an error state (reference errors at
    db/ops.go:30 and db/ops.go:66).  ``limit`` probe — no full collect.
    """
    bad = reduced.filter(F.col("err").isNotNull()).select("table", "pk", "err").limit(5).collect()
    if bad:
        details = "; ".join(f"{r['table']}/{r['pk']}: {r['err']}" for r in bad)
        raise MergeSemanticsError(f"invalid change sequence: {details}")


#: Executor-side guard: any errored group poisons its pk expression so
#: the FIRST action touching it raises — no separate probe job, no
#: cache.  ``raise_error`` is non-foldable, and pk feeds the apply join
#: key, so Catalyst cannot prune it.
_GUARD_PK = """
CASE WHEN err IS NOT NULL THEN
  raise_error(concat('invalid change sequence: ', table, '/', pk, ': ', err))
ELSE pk END
"""


def guard_merge_errors(reduced: DataFrame) -> DataFrame:
    """Inline equivalent of :func:`check_merge_errors`: rewrites ``pk``
    so evaluating an errored group raises inside the job itself.  Turns
    reduce+check+apply into ONE action (the fold is evaluated once)
    at the cost of the error surfacing as a ``SparkException`` at
    action time instead of a ``MergeSemanticsError`` eagerly."""
    return reduced.withColumn("pk", F.expr(_GUARD_PK))


def apply_table_ops(target: DataFrame, ops: DataFrame, info: TableInfo) -> DataFrame:
    """Reconcile one table's reduced ops with its current state.

    Full-outer join on pk, then per-column resolution:

    * no op                        -> keep target row
    * CREATE                       -> row built from coerced fields
      (upsert: replaces an existing row with the same pk)
    * UPDATE on existing row       -> per-field overwrite of present keys
    * UPDATE on missing row        -> no-op (ClickHouse ``ALTER UPDATE``
      on an absent pk matches nothing)
    * DELETE                       -> row removed
    """
    pk = info.primary_key
    # Spark string literals honor backslash escapes by default, so a
    # backslash in a name must double too (else 'a\b' parses as an
    # escape sequence)
    esc = lambda s: s.replace("\\", "\\\\").replace("'", "''")  # noqa: E731
    bq = lambda s: "`" + s.replace("`", "``") + "`"  # noqa: E731
    # Projections are composed as SQL strings into single selectExpr
    # calls (same py4j round-trip economics as reduce_changes).
    # Initial-load fast path: with no existing state (the reference's
    # main use case is a from-genesis sync) the full-outer reconcile is
    # provably CREATE-rows-only — UPDATE/DELETE on an absent pk match
    # nothing.  A one-row probe detects it; skipping the join removes a
    # sort+shuffle of the whole window.  The keep-predicate evaluates
    # the err column for EVERY row so inline-guarded windows still
    # raise even though non-CREATE rows are dropped.
    if not target.take(1):
        if "err" in ops.columns:
            keep = (
                "CASE WHEN err IS NOT NULL THEN "
                "CAST(raise_error(concat('invalid change sequence: ', "
                "coalesce(pk, '?'), ': ', coalesce(err, '?'))) AS BOOLEAN) "
                "ELSE op = 'CREATE' END"
            )
        else:
            keep = "op = 'CREATE'"
        cols = []
        for field in info.schema.fields:
            val = coerce_sql(f"fields['{esc(field.name)}']", field.dataType)
            cols.append(f"{val} AS {bq(field.name)}")
        return ops.where(keep).selectExpr(*cols)
    ops_t = ops.selectExpr("pk AS __pk", "op AS __op", "fields AS __fields")
    joined = target.alias("t").join(
        ops_t, F.expr(f"CAST(t.{bq(pk)} AS STRING) = __pk"), "full_outer"
    )
    kept = joined.where(
        "__op IS NULL OR __op = 'CREATE' "
        f"OR (__op IN ('UPDATE', 'NONE') AND t.{bq(pk)} IS NOT NULL)"
    )
    out_cols = []
    for field in info.schema.fields:
        new_val = coerce_sql(f"__fields['{esc(field.name)}']", field.dataType)
        out_cols.append(
            f"CASE WHEN __op = 'CREATE' THEN {new_val} "
            f"WHEN __op = 'UPDATE' AND map_contains_key(__fields, '{esc(field.name)}') "
            f"THEN {new_val} "
            f"ELSE t.{bq(field.name)} END AS {bq(field.name)}"
        )
    return kept.selectExpr(*out_cols)


def apply_table_ops_delta(
    target_with_src: DataFrame, ops: DataFrame, info: TableInfo
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Merge-on-read apply: instead of rewriting the target bucket,
    produce the two SIDECAR artifacts of this window —

    * ``delta``: the full NEW rows (CREATE rows, and UPDATE rows
      merged against the current row), typed like the target schema;
    * ``mask``: ``(src, pk)`` pairs naming the superseded current rows
      (deleted rows, updated rows' old versions, upsert-overwritten
      rows) — the deletion vector.  ``src`` is the ``__src`` column of
      ``target_with_src`` (the epoch that wrote each current row), so
      a reader subtracts exactly the right physical rows.

    Join shape: the bucket state streams through an INNER hash join
    whose build side is the broadcast window (``F.broadcast(ops)``),
    so only the window's ops cross the driver and the state is
    scanned once, in place — no target broadcast, no shuffle, no
    full-outer reconcile.  The join yields the ops whose pk has a
    current row: their old rows are the mask and the UPDATEs among
    them are merged into delta rows.  CREATE rows are built straight
    from the ops (an upsert needs no current row).  Write volume is
    O(changed rows), the whole point of deletion vectors (SCALE.md
    "Known trade-offs").

    Semantics identical to :func:`apply_table_ops`:
    UPDATE on a missing pk matches nothing; CREATE replaces an
    existing row (upsert); DELETE removes; an errored group (see
    :func:`guard_merge_errors`) raises where ``ops`` is first
    evaluated.  The ops⋈target match (ops-sized, tiny) is cached so the
    two output writes scan the bucket ONCE; it is the third return
    value, for the caller to unpersist once both are written.  ``ops``
    is read twice (the broadcast and the CREATE rows), so a caller
    passes a cached window to fold it once."""
    pk = info.primary_key
    # Spark string literals honor backslash escapes by default, so a
    # backslash in a name must double too (else 'a\b' parses as an
    # escape sequence)
    esc = lambda s: s.replace("\\", "\\\\").replace("'", "''")  # noqa: E731
    bq = lambda s: "`" + s.replace("`", "``") + "`"  # noqa: E731
    ops_t = ops.selectExpr("pk AS __pk", "op AS __op", "fields AS __fields")
    matched = target_with_src.alias("t").join(
        F.broadcast(ops_t), F.expr(f"CAST(t.{bq(pk)} AS STRING) = __pk"), "inner"
    )
    # flatten t.* now: a cached plan keyed on the alias would lose the
    # qualifier for downstream resolvers
    matched = matched.selectExpr(
        "__pk", "__op", "__fields",
        *[f"t.{bq(f.name)} AS {bq('__t_' + f.name)}" for f in info.schema.fields],
        "t.__src AS __t_src",
    )
    matched = matched.cache()
    created_cols, updated_cols = [], []
    for field in info.schema.fields:
        new_val = coerce_sql(f"__fields['{esc(field.name)}']", field.dataType)
        created_cols.append(f"{new_val} AS {bq(field.name)}")
        updated_cols.append(
            f"CASE WHEN map_contains_key(__fields, '{esc(field.name)}') THEN {new_val} "
            f"ELSE {bq('__t_' + field.name)} END AS {bq(field.name)}"
        )
    created = ops_t.where("__op = 'CREATE'").selectExpr(*created_cols)
    updated = matched.where("__op = 'UPDATE'").selectExpr(*updated_cols)
    delta = created.unionByName(updated)
    mask = matched.where("__op IN ('CREATE', 'UPDATE', 'DELETE')").selectExpr(
        "__t_src AS src", "__pk AS pk"
    )
    return delta, mask, matched


def merge_changes(
    changes: DataFrame,
    targets: dict[str, DataFrame],
    catalog: Catalog,
    check_errors: bool | str = True,
) -> dict[str, DataFrame]:
    """Full merge: reduce a changes window and apply it to every
    affected table's state.  Returns the new state per table.

    ``check_errors`` modes:

    * ``True`` (default) — eager: cache the reduced ops (the probe and
      each table's apply join would otherwise re-execute the whole
      fold), probe for errors, raise ``MergeSemanticsError`` before
      anything is applied.  The right mode when the caller must not
      write ANY table on a bad window.
    * ``"inline"`` — single-pass: no cache, no probe job; errored
      groups raise from inside the apply job itself
      (:func:`guard_merge_errors`).  Halves the work for one-shot
      batch replays over a single table.
    """
    reduced = reduce_changes(changes, catalog.primary_keys())
    if check_errors == "inline":
        live = guard_merge_errors(reduced)
        if len(targets) > 1:
            live = live.cache()
    else:
        reduced = reduced.cache()
        check_merge_errors(reduced)
        live = reduced.filter(F.col("err").isNull())
    out: dict[str, DataFrame] = {}
    for name, target in targets.items():
        info = catalog.get(name)
        ops_t = live.filter(F.col("table") == name)
        out[name] = apply_table_ops(target, ops_t, info)
    return out


def collapse_versions(df: DataFrame, primary_key: str, version_column: str) -> DataFrame:
    """ReplacingMergeTree ``SELECT ... FINAL`` semantics on a table
    DataFrame: keep the row with the highest version per primary key.

    ``max_by(struct(all columns), version)`` — an algebraic aggregate
    (map-side partials collapse versions before the shuffle, one row
    per key crosses the exchange, no window sort), the same shape as
    q51_replacing_final.  ClickHouse resolves equal versions by
    insertion order; distributed reads have no such order, so equal
    versions break deterministically on the full row ordering (the
    remaining struct fields).
    """
    cols = df.columns
    packed = F.struct(
        F.col(version_column).alias("__v"), *[F.col(c) for c in cols]
    )
    agg = df.groupBy(F.col(primary_key).alias("__pk")).agg(
        F.max(packed).alias("__row")
    )
    return agg.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def collapse_summing(
    df: DataFrame, primary_key: str, sum_columns: list[str] | None = None
) -> DataFrame:
    """SummingMergeTree ``SELECT ... FINAL`` semantics: per primary
    key, sum the declared columns (or every numeric non-key column,
    ClickHouse's default) and keep one value for the rest.

    All-algebraic single aggregation (map-side partials).  ClickHouse
    keeps an arbitrary merge-order value for non-summed columns; a
    distributed read has no merge order, so we take ``max`` for
    determinism (documented deviation).
    """
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(
            f.dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType, T.DecimalType),
        )
    }
    targets = (
        [c for c in sum_columns if c != primary_key]
        if sum_columns is not None
        else [c for c in df.columns if c in numeric and c != primary_key]
    )
    aggs = []
    for c in df.columns:
        if c == primary_key:
            continue
        fn = F.sum if c in targets else F.max
        aggs.append(fn(c).alias(c))
    return df.groupBy(primary_key).agg(*aggs).select(*df.columns)
