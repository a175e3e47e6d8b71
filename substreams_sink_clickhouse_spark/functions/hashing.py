"""Cross-engine deterministic hashing primitives.

The dedup / fingerprint / LSH operators need hash functions that (a)
run JVM-side in Spark and (b) can be reproduced *bit-for-bit* by the
DuckDB correctness oracle.  Neither engine's native 64-bit hash matches
the other (Spark xxhash64 vs DuckDB murmur-ish ``hash()``), so we build
on MD5 — identical everywhere — and parse the first 15 hex digits
(60 bits, always positive in an int64):

* Spark  : ``CAST(CONV(SUBSTR(MD5(x), 1, 15), 16, 10) AS BIGINT)``
* DuckDB : ``CAST('0x' || SUBSTR(MD5(x), 1, 15) AS BIGINT)``

Seeded families derive as ``H(seed || ':' || x)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus used by small modular-arithmetic hashes (fits comfortably in
#: int64 intermediate products on both engines).
POLY_MOD = 1_000_000_007
POLY_MULT = 131


def md5_long(col: Column) -> Column:
    """60-bit positive hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """Spark SQL text of :func:`md5_long` (for use inside lambdas)."""
    return f"CAST(CONV(SUBSTR(MD5({expr}), 1, 15), 16, 10) AS BIGINT)"


def duck_md5_long_sql(expr: str) -> str:
    """DuckDB SQL computing the identical value."""
    return f"CAST('0x' || SUBSTR(MD5({expr}), 1, 15) AS BIGINT)"


def duck_md5_long_seeded_sql(expr: str, seed: int) -> str:
    return duck_md5_long_sql(f"CONCAT('{seed}:', {expr})")


def md5_long_seeded_sql(expr: str, seed: int) -> str:
    return md5_long_sql(f"CONCAT('{seed}:', {expr})")


#: geohash base32 (no a/i/l/o)
_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"

#: 30->60-bit Morton spread: (shift, mask) rounds of the classic
#: magic-number interleave
_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def geohash_sql(lat: str, lng: str, precision: int, dialect: str) -> str:
    """ClickHouse ``geohashEncode(lng, lat[, precision])`` as pure
    integer bit arithmetic — EXACT on both engines (IEEE quantization,
    then Morton interleave and base32 lookup, no floating point after
    the initial floor).  Longitude occupies the even bit positions
    (geohash's first bit refines longitude).

    Emits one scalar SQL expression for ``dialect`` in {"spark",
    "duckdb"}; intermediates bind once through single-element
    list-lambda let-bindings so the expression stays linear in size.
    """
    if dialect == "spark":
        shl = lambda e, n: f"shiftleft({e}, {n})"  # noqa: E731
        shr = lambda e, n: f"shiftright({e}, {n})"  # noqa: E731
        let = lambda val, body: (  # noqa: E731
            f"element_at(transform(array({val}), v -> {body}), 1)"
        )
    else:
        shl = lambda e, n: f"(({e}) << {n})"  # noqa: E731
        shr = lambda e, n: f"(({e}) >> {n})"  # noqa: E731
        let = lambda val, body: (  # noqa: E731
            f"(list_transform([{val}], v -> {body})[1])"
        )

    def spread(var: str) -> str:
        e = var
        for sh, mask in _SPREAD:
            e = f"((({e}) | {shl(e, sh)}) & {mask})"
        return e

    # 30-bit quantization, clamped so +180/+90 stay in range
    xq = (
        f"least(CAST(floor((({lng}) + 180.0) / 360.0 * 1073741824.0) AS BIGINT),"
        f" 1073741823)"
    )
    yq = (
        f"least(CAST(floor((({lat}) + 90.0) / 180.0 * 1073741824.0) AS BIGINT),"
        f" 1073741823)"
    )
    sx = let(xq, spread("v"))
    sy = let(yq, spread("v"))
    morton = f"({shl(sx, 1)} | {sy})"
    chars = ", ".join(
        f"substr('{_GEOHASH32}', "
        f"CAST(({shr('v', 55 - 5 * i)} & 31) AS INT) + 1, 1)"
        for i in range(precision)
    )
    return let(morton, f"concat({chars})")


def geohash_decode_sql(gh: str, dialect: str) -> tuple[str, str]:
    """Inverse of :func:`geohash_sql`: ``(lat_expr, lng_expr)`` giving
    the CELL CENTER of an 11-char geohash expression (ClickHouse
    ``geohashDecode``).  Character lookup -> 55-bit Morton number ->
    magic-number bit COMPRESSION (the spread rounds reversed) ->
    center = (q + 0.5) / 2^k scaled back to degrees.  Integer-exact
    until the final two FP ops, so both engines agree bitwise."""
    if dialect == "spark":
        shl = lambda e, n: f"shiftleft({e}, {n})"  # noqa: E731
        shr = lambda e, n: f"shiftright({e}, {n})"  # noqa: E731
        let = lambda val, body: (  # noqa: E731
            f"element_at(transform(array({val}), v -> {body}), 1)"
        )
        idx = lambda s_, i: f"instr('{_GEOHASH32}', substr({s_}, {i}, 1))"  # noqa: E731
    else:
        shl = lambda e, n: f"(({e}) << {n})"  # noqa: E731
        shr = lambda e, n: f"(({e}) >> {n})"  # noqa: E731
        let = lambda val, body: (  # noqa: E731
            f"(list_transform([{val}], v -> {body})[1])"
        )
        idx = lambda s_, i: f"instr('{_GEOHASH32}', substr({s_}, {i}, 1))"  # noqa: E731

    # 11 chars * 5 bits = 55 bits: 28 lng (even positions from MSB), 27 lat
    morton = " | ".join(
        shl(f"CAST({idx(gh, i + 1)} - 1 AS BIGINT)", 5 * (10 - i))
        for i in range(11)
    )

    def compress(var: str) -> str:
        # reverse of _SPREAD: gather even bits down to a 28-bit int
        e = f"(({var}) & 6148914691236517205)"
        for sh, mask in ((1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                         (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                         (16, 0x00000000FFFFFFFF)):
            e = f"((({e}) | {shr(e, sh)}) & {mask})"
        return e

    # the 55-bit number holds morton bits 59..5; morton bit 59 (lng
    # MSB, odd position there) lands on bit 54 here — EVEN — so lng
    # bits sit at even positions and lat at odd.  28 lng bits
    # (X >> 2), 27 lat bits (Y >> 3); center = (q + 0.5) / 2^k.
    mx = let(f"({morton}) & 6148914691236517205", compress("v"))
    my = let(f"{shr('(' + morton + ')', 1)} & 6148914691236517205", compress("v"))
    lng = f"((CAST({mx} AS DOUBLE) + 0.5) / 268435456.0 * 360.0 - 180.0)"
    lat = f"((CAST({my} AS DOUBLE) + 0.5) / 134217728.0 * 180.0 - 90.0)"
    return lat, lng


def geohashes_in_box_sql(
    lng_min: str,
    lat_min: str,
    lng_max: str,
    lat_max: str,
    precision: int,
    dialect: str,
) -> str:
    """ClickHouse ``geohashesInBox``: the array of precision-``p``
    geohash cells intersecting the box.  Cell index ranges come from
    quantizing the bounds at the precision's bit depths (lng gets
    ceil(5p/2) bits, lat floor(5p/2)); each (x, y) cell re-encodes
    through :func:`geohash_sql` on its center.  Emits one array-typed
    SQL expression — JVM sequence/transform, no rows materialized
    driver-side.  Callers bound the box so |cells| stays sane
    (ClickHouse caps at 10M)."""
    bx = (5 * precision + 1) // 2
    by = (5 * precision) // 2
    if dialect == "spark":
        seq = "sequence"
        flat_tx = lambda xs, f: f"flatten(transform({xs}, {f}))"  # noqa: E731
        tx = "transform"
    else:
        seq = "range_inclusive"  # handled below
        flat_tx = lambda xs, f: f"flatten(list_transform({xs}, {f}))"  # noqa: E731
        tx = "list_transform"

    def q(v: str, lo: float, width: float, bits: int) -> str:
        full = (
            f"least(CAST(floor((({v}) - {lo}) / {width} * 1073741824.0) "
            f"AS BIGINT), 1073741823)"
        )
        if dialect == "spark":
            return f"shiftright({full}, {30 - bits})"
        return f"(({full}) >> {30 - bits})"

    x0, x1 = q(lng_min, -180.0, 360.0, bx), q(lng_max, -180.0, 360.0, bx)
    y0, y1 = q(lat_min, -90.0, 180.0, by), q(lat_max, -90.0, 180.0, by)
    # cell-center coordinates from the cell indices
    lng_c = f"((CAST(x AS DOUBLE) + 0.5) / {float(2 ** bx)} * 360.0 - 180.0)"
    lat_c = f"((CAST(y AS DOUBLE) + 0.5) / {float(2 ** by)} * 180.0 - 90.0)"
    cell = geohash_sql(lat_c, lng_c, precision, dialect)
    if dialect == "spark":
        xs = f"sequence({x0}, {x1})"
        inner = f"transform(sequence({y0}, {y1}), y -> {cell})"
        return f"flatten(transform({xs}, x -> {inner}))"
    xs = f"range(({x0}), ({x1}) + 1)"
    inner = f"list_transform(range(({y0}), ({y1}) + 1), y -> {cell})"
    return f"flatten(list_transform({xs}, x -> {inner}))"


def point_in_polygon_sql(
    px: str, py: str, vertices: list[tuple[float, float]], dialect: str
) -> str:
    """ClickHouse ``pointInPolygon((x, y), [(x1, y1), ...])`` for a
    LITERAL polygon: even-odd ray casting as a filter-count over the
    edge array — one boolean JVM expression per row, identical FP
    formula on both engines.  Boundary points follow the raw IEEE
    comparisons (ClickHouse's own boundary behavior is
    strategy-dependent)."""
    edges = []
    n = len(vertices)
    for i in range(n):
        (ax, ay), (bx, by) = vertices[i], vertices[(i + 1) % n]
        if dialect == "spark":
            edges.append(
                f"named_struct('ax', CAST({ax} AS DOUBLE), 'ay', CAST({ay} AS DOUBLE), "
                f"'bx', CAST({bx} AS DOUBLE), 'by', CAST({by} AS DOUBLE))"
            )
        else:
            edges.append(
                f"{{'ax': CAST({ax} AS DOUBLE), 'ay': CAST({ay} AS DOUBLE), "
                f"'bx': CAST({bx} AS DOUBLE), 'by': CAST({by} AS DOUBLE)}}"
            )
    arr = f"[{', '.join(edges)}]" if dialect != "spark" else f"array({', '.join(edges)})"
    cond = (
        f"((e.ay > ({py})) != (e.by > ({py}))) AND "
        f"({px}) < (e.bx - e.ax) * (({py}) - e.ay) / (e.by - e.ay) + e.ax"
    )
    if dialect == "spark":
        return f"(size(filter({arr}, e -> {cond})) % 2 = 1)"
    return f"(len(list_filter({arr}, e -> {cond})) % 2 = 1)"
