"""Compile a JQL AST into DataFrame transformations.

Design: JQL is a declarative single-collection filter/project/limit language
(SURVEY.md §2.2). We therefore compile every form to built-in Catalyst
``Column`` expressions — never Python UDFs — so predicate pushdown, column
pruning and whole-stage codegen apply unchanged. A filter like
``/[lang = en]`` over a parquet-backed collection becomes a pushed parquet
filter; the engine never materializes non-matching rows.

Two field-resolution modes, chosen per column:

- **native**: the field names a real (possibly struct) column → direct
  ``Column`` reference, fully pushdown-eligible.
- **json**: the field traverses a JSON string column (the reference stores
  documents as JSON text — doc_store.rs:292-312) → ``get_json_object``
  extraction with a type-directed cast chosen from the literal's type
  (filter values are restricted to bool/int64/string in the reference,
  bson_util.rs:47-60; we additionally allow doubles).

Ordering contract: the reference returns results **newest-first** (implicit
``desc`` by doc id — SURVEY.md Q9, client_v2.test.ts:213-239). A global sort
is only *observable* when the result is truncated, so we apply the sort when
a ``limit``/``skip`` is present (or an explicit collector is given); a full
untruncated result set is returned unsorted to avoid a needless total
exchange at 100 TB scale — set-equal to the reference's output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rtstore_spark.errors import QueryError
from rtstore_spark.jql.parser import (
    Apply,
    BoolExpr,
    Clause,
    Cond,
    JQLQuery,
    Placeholder,
    parse_jql,
)


def _resolve_params(value, params):
    if isinstance(value, Placeholder):
        if value.name is not None:
            try:
                return params[value.name]
            except (KeyError, TypeError):
                raise QueryError(f"JQL: missing named parameter :{value.name}")
        try:
            return params[value.index]
        except (IndexError, KeyError, TypeError):
            raise QueryError(f"JQL: missing positional parameter #{value.index}")
    if isinstance(value, list):
        return [_resolve_params(v, params) for v in value]
    return value


def _cast_for(value, col: Column) -> Column:
    """Cast a JSON-extracted string column to match the literal's type.

    Int literals compare through ``decimal(23,4)``, not double: the reference
    allows full-int64 filter values (bson_util.rs:47-60) and a double cast
    collapses neighbors above 2^53. The 4 fractional digits keep comparisons
    against float-valued JSON fields (e.g. ``1.5 > 1``) exact too; int64 max
    is 19 digits, so 23,4 covers the whole range. Float literals stay double.
    """
    probe = value[0] if isinstance(value, list) and value else value
    if isinstance(probe, bool):
        return col.try_cast(T.BooleanType())
    if isinstance(probe, int):
        # try_cast: a non-numeric field value is NULL (no match), not an ANSI
        # runtime error — BSON cross-type comparisons simply don't match.
        return col.try_cast(T.DecimalType(23, 4))
    if isinstance(probe, float):
        return col.try_cast(T.DoubleType())
    return col


class FieldResolver:
    """Resolve a dotted JQL field path against a DataFrame's schema.

    Columns that exist natively (including struct traversal) resolve to plain
    references; paths that descend *into a string column* are treated as JSON
    text and extracted via ``get_json_object``. ``doc_col`` names a default
    JSON document column used when the first path segment matches no column
    (the document-store layout: doc_id / owner / doc).
    """

    def __init__(self, df: DataFrame, doc_col: str | None = None):
        self.df = df
        self.doc_col = doc_col
        self.fields = {f.name: f for f in df.schema.fields}

    def resolve(self, dotted: str, value=None) -> Column:
        parts = dotted.split(".")
        head = parts[0]
        if head in self.fields:
            f = self.fields[head]
            if len(parts) == 1:
                return F.col(head)
            if isinstance(f.dataType, T.StructType):
                return F.col(dotted)
            if isinstance(f.dataType, T.StringType):
                json_path = "$." + ".".join(parts[1:])
                return _cast_for(value, F.get_json_object(F.col(head), json_path))
            raise QueryError(f"JQL: cannot traverse {dotted!r} on {f.dataType}")
        if self.doc_col is not None:
            json_path = "$." + dotted
            return _cast_for(value, F.get_json_object(F.col(self.doc_col), json_path))
        raise QueryError(f"JQL: unknown field {dotted!r}")

    def resolve_order(self, dotted: str) -> list[Column]:
        """Sort keys for an asc/desc collector. Native columns order by
        their own type; JSON-extracted values arrive as STRINGS, which
        would order lexicographically ('10' < '9') — so JSON fields get a
        two-level key: numeric interpretation first (null when the value
        isn't a number), raw string as tiebreak. Numeric JSON fields order
        numerically, string fields fall through to lexicographic."""
        head = dotted.split(".")[0]
        is_json = head not in self.fields or (
            "." in dotted
            and isinstance(self.fields[head].dataType, T.StringType)
        )
        col = self.resolve(dotted)
        if not is_json:
            return [col]
        return [col.try_cast(T.DoubleType()), col]

    def resolve_array(self, path: list[str], cond_field: str, value=None) -> Column | None:
        """Resolve `/path/[elem_field op v]` — any-element-matches semantics.

        Returns a column of array values to test with ``exists``, or None if
        the native column is itself an array of structs (handled separately).

        Two subtleties this must get right:
        - when the head segment IS the (JSON string) column, the JSON path
          must not repeat it — the text inside column ``profile`` has
          top-level ``pets``, not ``profile.pets``;
        - ``get_json_object`` with ``[*]`` returns a JSON *array* only when
          two or more elements match; a single match comes back as the bare
          element, which ``from_json(array<string>)`` turns into null — so
          single-element arrays would silently never match without the
          bare-value fallback below.
        """
        head = path[0]
        if head in self.fields:
            dt = self.fields[head].dataType
            if isinstance(dt, T.ArrayType):
                return None  # native array handled by caller via F.exists
            if not isinstance(dt, T.StringType):
                raise QueryError(
                    f"JQL: cannot traverse array path {'/'.join(path)!r} on {dt}"
                )
            base = F.col(head)
            inner = ".".join(path[1:])
        else:
            if self.doc_col is None:
                raise QueryError(f"JQL: unknown field {'/'.join(path)!r}")
            base = F.col(self.doc_col)
            inner = ".".join(path)
        json_path = "$" + (f".{inner}" if inner else "") + "[*]." + cond_field
        raw = F.get_json_object(base, json_path)
        # the single match comes back as the bare JSON value ('"dog"', '3')
        # — re-wrapping it in [] parses it through the same array decoder,
        # so quotes strip identically in both arms
        return F.coalesce(
            F.from_json(raw, T.ArrayType(T.StringType())),
            F.from_json(
                F.concat(F.lit("["), raw, F.lit("]")),
                T.ArrayType(T.StringType()),
            ),
        )


_OP_FUNCS = {
    "eq": lambda c, v: c == F.lit(v),
    "ne": lambda c, v: c != F.lit(v),
    "gt": lambda c, v: c > F.lit(v),
    "lt": lambda c, v: c < F.lit(v),
    "ge": lambda c, v: c >= F.lit(v),
    "le": lambda c, v: c <= F.lit(v),
    "in": lambda c, v: c.isin(*v),
    "ni": lambda c, v: ~c.isin(*v),
    "re": lambda c, v: c.rlike(v),
    "prefix": lambda c, v: c.startswith(v),
    "like": lambda c, v: c.like(v),
}


def _compile_cond(cond: Cond, resolver: FieldResolver, params, path: list[str]) -> Column:
    value = _resolve_params(cond.value, params)
    op_fn = _OP_FUNCS[cond.op]
    if path:
        # nested-array form: /pets/[kind = dog] — match if ANY element matches
        # (EJDB2 semantics for collection filters on nested arrays,
        #  sdk/tests/query.test.ts:100-116 fixture shape).
        head = path[0]
        if head in resolver.fields and isinstance(
            resolver.fields[head].dataType, T.ArrayType
        ):
            elem_type = resolver.fields[head].dataType.elementType
            if isinstance(elem_type, T.StructType):
                return F.exists(F.col(head), lambda e: op_fn(e[cond.field], value))
            return F.exists(F.col(head), lambda e: op_fn(e, value))
        arr = resolver.resolve_array(path, cond.field, value)
        return F.exists(arr, lambda e: op_fn(_cast_for(value, e), value))
    col = resolver.resolve(cond.field, value)
    return op_fn(col, value)


def _fold_bool(preds: list[Column], ops: list[str]) -> Column:
    """Fold predicates with SQL precedence: AND binds tighter than OR."""
    or_groups: list[Column] = []
    cur = preds[0]
    for op, nxt in zip(ops, preds[1:]):
        if op == "and":
            cur = cur & nxt
        else:
            or_groups.append(cur)
            cur = nxt
    or_groups.append(cur)
    out = or_groups[0]
    for g in or_groups[1:]:
        out = out | g
    return out


def _compile_clause(clause: Clause, resolver: FieldResolver, params) -> Column:
    if clause.match_all and not clause.conds:
        pred = F.lit(True)
    else:
        preds = [
            _compile_cond(c, resolver, params, clause.path) for c in clause.conds
        ]
        pred = _fold_bool(preds, clause.cond_ops)
    # negation must be two-valued: a doc missing the field yields a NULL
    # predicate, and SQL's ~NULL is NULL — which filter() drops, silently
    # excluding exactly the docs a negated clause is supposed to keep
    # (the reference matches "does not satisfy", not "provably false")
    return ~F.coalesce(pred, F.lit(False)) if clause.negate else pred


def _compile_expr(node, resolver: FieldResolver, params) -> Column:
    if isinstance(node, BoolExpr):
        if node.op == "not":
            # same two-valued-negation contract as clause.negate above
            return ~F.coalesce(
                _compile_expr(node.items[0], resolver, params), F.lit(False)
            )
        preds = [_compile_expr(x, resolver, params) for x in node.items]
        out = preds[0]
        for p in preds[1:]:
            out = (out & p) if node.op == "and" else (out | p)
        return out
    return _compile_clause(node, resolver, params)


def compile_predicate(
    q: JQLQuery, df: DataFrame, params=None, doc_col: str | None = None
) -> Column:
    """Compile the parsed boolean tree (SQL precedence + parentheses are
    resolved by the parser) into one Column predicate."""
    resolver = FieldResolver(df, doc_col=doc_col)
    return _compile_expr(q.root, resolver, params)


def _apply_projection(
    df: DataFrame, fields: list[str], doc_col: str | None, id_col: str | None
) -> DataFrame:
    resolver = FieldResolver(df, doc_col=doc_col)
    native = [f for f in fields if f.split(".")[0] in resolver.fields]
    if len(native) == len(fields):
        keep = []
        if id_col and id_col in resolver.fields and id_col not in fields:
            keep.append(id_col)
        return df.select(*keep, *fields)
    # JSON-doc mode: rebuild the document with only the listed fields
    # (JQL `| /{f1}` keeps listed fields — doc_store.rs:358-374). A field
    # that IS a native column (e.g. owner in the doc-store layout) must
    # come from that column — extracting it from the doc would yield null.
    # Documented deviation: extracted values are re-encoded as JSON
    # STRINGS ({"age":"30"}, nested objects double-encoded) — the
    # reference keeps original JSON types; scalar consumers are unaffected
    # and the oracle mirrors this encoding.
    struct_fields = [
        (
            resolver.resolve(f)
            if f.split(".")[0] in resolver.fields
            else F.get_json_object(F.col(doc_col), "$." + f)
        ).alias(f.split(".")[-1])
        for f in fields
    ]
    out = [F.to_json(F.struct(*struct_fields)).alias(doc_col)]
    if id_col and id_col in resolver.fields:
        out.insert(0, F.col(id_col))
    return df.select(*out)


def jql_query(
    df: DataFrame,
    query: str,
    params=None,
    doc_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Run a JQL query string against a DataFrame collection.

    ``doc_col``: JSON document column for schemaless fields (document-store
    mode). ``order_col``: the implicit newest-first sort key (doc id); used
    whenever the result is truncated by limit/skip, matching the reference's
    observable ordering (Q9).
    """
    q = parse_jql(query)
    pred = compile_predicate(q, df, params=params, doc_col=doc_col)
    return apply_stages(df.filter(pred), q, doc_col=doc_col, order_col=order_col)


def _apply_patch(
    df: DataFrame, patches: list[dict], doc_col: str | None
) -> DataFrame:
    """EJDB2 ``| apply {json}`` collector: RFC 7386 merge-patch every
    matched document *in the result set* (a read-side transform — the
    stored collection is untouched; persistent updates go through M3).

    Multiple applies compose in source order. Doc mode patches through the
    Arrow-batched merge UDF with the composed patch as a literal — one
    constant per batch, matched rows only. Native-column mode supports
    top-level scalar set/delete (null drops the column)."""
    import json as _json

    from rtstore_spark.functions.merge_patch import (
        compose_patches,
        make_json_merge_patch,
    )

    folded = patches[0]
    for p in patches[1:]:
        folded = compose_patches(folded, p)
    if doc_col is not None:
        merge = make_json_merge_patch()
        return df.withColumn(
            doc_col, merge(F.col(doc_col), F.lit(_json.dumps(folded)))
        )
    for k, v in folded.items():
        if isinstance(v, dict):
            raise QueryError(
                "JQL: nested apply patches need document mode (doc_col)"
            )
        df = df.drop(k) if v is None else df.withColumn(k, F.lit(v))
    return df


def apply_stages(
    out: DataFrame,
    q: JQLQuery,
    doc_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Apply the post-filter pipeline stages (collectors) to an
    already-filtered DataFrame: count / order / skip / limit / projection.

    Split out so callers that need both the documents and the pre-limit
    matched count (RunQuery's contract, ``DocStore.query_docs``) can
    filter once, persist the matched set for the call, count it and run
    the stages over it — one pass over the collection.
    """
    limit_n = skip_n = None
    order: list[tuple[str, str]] = []
    project: list[str] | None = None
    count = False
    patches: list[dict] = []
    for a in q.applies:
        if a.kind == "limit":
            limit_n = a.args[0]
        elif a.kind == "skip":
            skip_n = a.args[0]
        elif a.kind in ("asc", "desc"):
            order.append((a.kind, a.args[0]))
        elif a.kind == "project":
            project = a.args
        elif a.kind == "count":
            count = True
        elif a.kind == "apply":
            patches.append(a.args[0])

    if count:
        # `/* | count` returns the match count and zero documents
        # (doc_store.rs:398-411) — a pure aggregate, no sort, no collect.
        return out.agg(F.count(F.lit(1)).alias("count"))

    if patches:
        out = _apply_patch(out, patches, doc_col)

    resolver = FieldResolver(out, doc_col=doc_col)
    if order:
        cols = [
            key if kind == "asc" else key.desc()
            for kind, f in order
            for key in resolver.resolve_order(f)
        ]
        out = out.orderBy(*cols)
    elif (limit_n is not None or skip_n is not None) and order_col:
        out = out.orderBy(F.col(order_col).desc())

    if skip_n is not None:
        out = out.offset(skip_n)
    if limit_n is not None:
        out = out.limit(limit_n)

    if project is not None:
        out = _apply_projection(out, project, doc_col, order_col)
    return out
