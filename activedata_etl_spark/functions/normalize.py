"""Vectorized row normalization — the Spark analog of the reference's
typed-JSON encoder and per-record transforms.

- lang tagging from file extension: analog of ``extension()``/``path()`` at
  ``activedata_etl/transforms/task_cluster_to_firefox_files.py:171-180`` —
  pure Catalyst (regexp + map literal), zero Python.
- content hashing: ``F.sha2(content, 256)`` — the per-row verification
  invariant (BASELINE.json input_hint), JVM-side.
- empty-string-is-null: the reference's ``Data``/mo_dots semantics treat ''
  as missing (`vendor/mo_dots/nones.py`); normalized at ingest.
- typed-JSON encoding: analog of ``typed_encode``
  (`vendor/mo_json/typed_encoder.py:132-362`): values wrapped under type
  sigils (~b~ ~n~ ~s~ ~N~ ~e~, `typed_encoder.py:436-441`), object keys
  sorted (:411), dots in property names escaped to commas (:28-33), arrays
  counted under ~e~ (:190-194).  Implemented as an Arrow ``pandas_udf``
  (batch-vectorized transfer; the per-value walk is unavoidable for dynamic
  JSON, exactly as in the reference — but it runs on Arrow batches, never
  row-at-a-time through the serializer).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# extension -> language tag (public common-knowledge mapping; the reference
# derives the same kind of tag from file suffix)
LANG_BY_EXT = {
    "py": "python",
    "js": "javascript",
    "cpp": "cpp",
    "h": "cpp",
    "rs": "rust",
    "java": "java",
    "md": "markdown",
    "json": "json",
    "yml": "yaml",
    "yaml": "yaml",
    "c": "c",
    "ts": "typescript",
    "go": "go",
    "html": "html",
    "css": "css",
    "sh": "shell",
    "txt": "text",
}

TYPE_PREFIX = "~"
BOOLEAN_TYPE = "~b~"
NUMBER_TYPE = "~n~"
STRING_TYPE = "~s~"
NESTED_TYPE = "~N~"
EXISTS_TYPE = "~e~"


# the extension of a path, and the extension -> tag map as one SQL map
# literal (built once: a map of per-entry F.lit calls costs a py4j round
# trip per key and value)
_EXT_RE = r"\.([A-Za-z0-9]+)$"
_LANG_MAP_SQL = "map(" + ", ".join(
    f"'{k}', '{v}'" for k, v in LANG_BY_EXT.items()) + ")"


def lang_from_path(path: Column) -> Column:
    """Language tag from the file extension of ``path``; null if none/unknown."""
    ext = F.lower(F.regexp_extract(path, _EXT_RE, 1))
    return F.when(ext == "", F.lit(None).cast("string")).otherwise(
        F.expr(_LANG_MAP_SQL)[ext])


def _lang_sql(path: str) -> str:
    """:func:`lang_from_path` as SQL over the SQL expression ``path``."""
    regex = _EXT_RE.replace("\\", "\\\\")
    ext = f"lower(regexp_extract({path}, '{regex}', 1))"
    return (f"CASE WHEN {ext} = '' THEN CAST(NULL AS STRING) "
            f"ELSE {_LANG_MAP_SQL}[{ext}] END")


def content_sha256(content: Column) -> Column:
    """Per-row verification hash — JVM built-in, no Python."""
    return F.sha2(content, 256)


def _nullify_sql(q: str) -> str:
    """'' -> null over the quoted column ``q``."""
    return f"CASE WHEN {q} = '' THEN NULL ELSE {q} END"


def nullify_empty_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """'' -> null for string columns (mo_dots missing-value semantics), as
    one projection; a frame with no target column is returned as is."""
    # imported here, not at module level: Python workers import this
    # module for its UDFs, and the lake package is driver-side only
    from activedata_etl_spark.lake.schema_evolution import sql_ident

    fields = df.schema.fields
    # `columns is None` -> every string column; an explicit [] means NONE
    # (`columns or default` would silently widen a no-op call to all columns)
    targets = set(
        [f.name for f in fields if f.dataType.simpleString() == "string"]
        if columns is None else columns
    )
    if not targets.intersection(f.name for f in fields):
        return df
    return df.selectExpr(*[
        f"{_nullify_sql(sql_ident(f.name))} AS {sql_ident(f.name)}"
        if f.name in targets else sql_ident(f.name)
        for f in fields
    ])


def normalize_keys(df: DataFrame) -> DataFrame:
    """Pre-reduce normalization: ONLY what affects keying/versioning
    ('' -> null on key columns).  Cheap — runs on every event."""
    return nullify_empty_strings(
        df, [c for c in ("repo", "path") if c in df.columns])


def finalize_records(df: DataFrame) -> DataFrame:
    """Post-reduce normalization: lang tag + content hash + residual
    empty-string cleanup.  Runs only on LWW winners (one row per key per
    batch), not on every event — at 10^10 events with ~10^8 keys that is
    ~99% less hashing.  One projection: ``commit``/``lang``/``content``
    '' -> null, ``lang`` defaulted from the path's extension, and
    ``content_sha256`` of the cleaned content (replaced in place when the
    frame has one, else appended)."""
    from activedata_etl_spark.lake.schema_evolution import sql_ident

    q = {c: sql_ident(c) for c in df.columns}
    clean = {c: _nullify_sql(q[c])
             for c in ("commit", "lang", "content") if c in q}
    # dict order is withColumn's: a column already there keeps its place
    out = dict(q, **{c: f"{e} AS {q[c]}" for c, e in clean.items()})
    out["lang"] = (f"coalesce({clean.get('lang', '`lang`')}, "
                   f"{_lang_sql('`path`')}) AS `lang`")
    out["content_sha256"] = (f"sha2({clean.get('content', '`content`')}, 256)"
                             " AS `content_sha256`")
    return df.selectExpr(*out.values())


def normalize_batch(df: DataFrame) -> DataFrame:
    """Full normalization in one shot (used when feeding apply_batch
    directly without a finalize hook)."""
    return finalize_records(normalize_keys(df))


# ---------------------------------------------------------------------------
# typed-JSON encoder (dynamic-document normalization)
# ---------------------------------------------------------------------------

def _encode_key(k: str) -> str:
    # dots in property names escape to commas (typed_encoder.py:28-33)
    return k.replace(".", ",")


_CONTAINERS = (dict, list, tuple)


def _typed(value, path: tuple = (), nested: frozenset = frozenset(),
           in_array: bool = False):
    """One value -> typed-JSON structure (typed_encoder.py:130-330 semantics).

    ``nested`` is the set of column paths with array history (the
    ``sub_schema[NESTED_TYPE]`` analog): a dict (or single-element array) at
    such a path PROMOTES to a one-element nested array — "PREFER NESTED,
    WHEN SEEN BEFORE" (:184-193).  Paths are logical dot paths (the ~N~ hops
    the reference threads through sub_schema are transparent here: promotion
    is decided per column, deterministically, independent of row order —
    the streaming reference mutates its schema in encounter order instead).
    """
    if value is None:
        return None
    if isinstance(value, bool):
        return {BOOLEAN_TYPE: value}
    if isinstance(value, (int, float)):
        return {NUMBER_TYPE: value}
    if isinstance(value, str):
        return None if value == "" else {STRING_TYPE: value}
    if isinstance(value, dict):
        out = {EXISTS_TYPE: 1}
        for k in sorted(value.keys()):  # key sort: typed_encoder.py:411
            enc = _typed(value[k], path + (k,), nested)
            if enc is not None:
                out[_encode_key(k)] = enc
        if path in nested and not in_array:
            # PREFER NESTED, WHEN SEEN BEFORE: single object -> one-element
            # nested array; ~e~ carries the raw key count (:184-193).
            # Objects already INSIDE an array encode against the array's
            # sub-schema (:190) — no re-promotion
            return {NESTED_TYPE: [out], EXISTS_TYPE: len(value)}
        return out
    if isinstance(value, (list, tuple)):
        if len(value) == 0:
            return {EXISTS_TYPE: 0}  # :259-261
        if any(isinstance(v, _CONTAINERS) for v in value):
            if len(value) == 1 and path not in nested:
                # NO NEED TO NEST, SO DO NOT DO IT (:266-274)
                return _typed(value[0], path, nested)
            items = [_typed(v, path, nested, in_array=True) for v in value]
            return {NESTED_TYPE: [v for v in items if v is not None],
                    EXISTS_TYPE: len(value)}
        # ALLOW PRIMITIVE MULTIVALUES (:284-301): same-type scalars stay a
        # bare list under the scalar sigil, no ~N~
        vals = [v for v in value if v is not None and v != ""]
        if not vals:
            return {NESTED_TYPE: []}  # Nones only (:287-289)
        enc = [_typed(v, path, nested) for v in vals]
        types = {next(iter(e)) for e in enc}
        if len(types) == 1:
            sigil = types.pop()
            inner = [e[sigil] for e in enc]
            return {sigil: inner[0] if len(inner) == 1 else inner}
        # mixed scalar types: the reference's emission here is malformed
        # (bare list + clobbered sibling ~e~, :290-291); keep the
        # well-formed nested shape instead
        return {NESTED_TYPE: enc, EXISTS_TYPE: len(vals)}
    return {STRING_TYPE: str(value)}


def _encode_doc(s, nested: frozenset = frozenset()):
    if s is None or s == "":
        return None
    try:
        v = json.loads(s)
    except (ValueError, TypeError):
        return None
    return json.dumps(
        _typed(v, (), nested), sort_keys=True, separators=(",", ":")
    )


@pandas_udf(T.StringType())
def typed_encode_udf(js: pd.Series) -> pd.Series:
    """JSON string -> typed-JSON string (sigil-wrapped, key-sorted) with no
    array history (schema-stateless).  Arrow-vectorized: one Python
    invocation per batch, not per row.
    """
    return js.map(_encode_doc)


def _array_paths(value, path: tuple = (), out: set | None = None) -> set:
    """Dot paths where a value carries a REAL array (>= 2 elements with a
    container among them) — exactly the shapes that set
    ``sub_schema[NESTED_TYPE]`` in the reference (:276-281); single-element
    arrays and primitive multivalues do NOT create history."""
    if out is None:
        out = set()
    if isinstance(value, dict):
        for k, v in value.items():
            _array_paths(v, path + (k,), out)
    elif isinstance(value, (list, tuple)):
        if len(value) >= 2 and any(isinstance(v, _CONTAINERS) for v in value):
            out.add(path)
        for v in value:
            _array_paths(v, path, out)
    return out


def typed_encode_stateful(df: DataFrame, col: str, out_col: str = "typed") -> DataFrame:
    """Schema-stateful typed encode: pass 1 discovers which column paths have
    array history across the WHOLE input (the net-new-properties analog,
    typed_encoder.py:136), pass 2 encodes with PREFER-NESTED promotion for
    those paths.  Deterministic where the reference is encounter-order-
    dependent: every row of a column with array history gets the promoted
    shape, so the encoding is a pure function of the dataset.

    The discovered path set is schema-sized (not data-sized): the collect is
    a distinct over column paths, safe at any corpus scale.
    """
    @pandas_udf(T.ArrayType(T.StringType()))
    def paths_udf(js: pd.Series) -> pd.Series:
        def one(s):
            if s is None or s == "":
                return []
            try:
                v = json.loads(s)
            except (ValueError, TypeError):
                return []
            return ["\x00".join(p) for p in _array_paths(v)]

        return js.map(one)

    seen = frozenset(
        # root path () serializes to "" — decode it back to () (a plain
        # split would yield ("",) and root-level array history would be lost)
        () if r[0] == "" else tuple(r[0].split("\x00"))
        for r in df.select(F.explode(paths_udf(F.col(col)))).distinct().collect()
    )

    @pandas_udf(T.StringType())
    def enc_udf(js: pd.Series) -> pd.Series:
        return js.map(lambda s: _encode_doc(s, seen))

    return df.withColumn(out_col, enc_udf(F.col(col)))


def _untyped(value):
    """Inverse of ``_typed``: strip sigils, restore dots in keys, unwrap
    arrays (``untype_path``/``untyped``, vendor/mo_json/typed_encoder.py:36-117)."""
    if not isinstance(value, dict):
        return value
    if NESTED_TYPE in value:
        return [_untyped(v) for v in value[NESTED_TYPE]]
    for sigil in (BOOLEAN_TYPE, NUMBER_TYPE, STRING_TYPE):
        if sigil in value:
            return value[sigil]  # scalar OR bare multivalue list
    if set(value) == {EXISTS_TYPE} and value[EXISTS_TYPE] == 0:
        return []  # empty array encodes as {"~e~":0}
    out = {}
    for k, v in value.items():
        if k == EXISTS_TYPE:
            continue
        out[k.replace(",", ".")] = _untyped(v)
    return out


@pandas_udf(T.StringType())
def typed_decode_udf(js: pd.Series) -> pd.Series:
    """typed-JSON string -> plain JSON string: the decode half of the
    round-trip (encode is one-way without this).  ``decode(encode(x)) == x``
    for JSON without empty-string/None leaves (those are MISSING by mo_dots
    semantics and are dropped at encode time) and without single-element
    container arrays (those unwrap at encode time — "NO NEED TO NEST",
    typed_encoder.py:266-274 — by reference design)."""
    def dec(s):
        if s is None or s == "":
            return None
        try:
            v = json.loads(s)
        except (ValueError, TypeError):
            return None
        return json.dumps(_untyped(v), sort_keys=True, separators=(",", ":"))

    return js.map(dec)
