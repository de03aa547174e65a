"""Entry point A analog: document-shaped (nested) requests.

The reference's main path is a GraphQL document parsed, validated and
compiled to the request-materialization graph
(``DefaultMaterializationPreparsedDocumentProvider.kt:250-327``, composer
``schema/document/DefaultGQLDocumentComposer.kt``, traverser
``StandardQueryTraverser.kt``). Spark-first, the document becomes a nested
dict compiled onto the same FeatureModel plan the tabular entry point uses —
the two entry points are the two directions of
``TabularQueryDocumentCreator.kt:44-108``.

Document shape::

    {
      "variables": {"gap": 900.0},            # optional
      "select": {
        "columns": ["event_id", "user_id"],   # data-element passthrough (P1)
        "features": {
          "prior_event_type": {},             # declared feature, as-is
          "sess": {                            # aliased + parameterized
            "feature": "session_id",
            "args": {"gap_threshold_s": "$gap"},
          },
        },
      },
    }

Argument value sources mirror the MaterializationEdge kinds
(``MaterializationEdge.kt:7-14``): a ``$name`` string is
VARIABLE_VALUE_PROVIDED (unknown variable → error, like graphql-java
validation), any other literal is DIRECT_ARGUMENT_VALUE_PROVIDED, and an
omitted argument keeps the declared default (DEFAULT_ARGUMENT_VALUE_PROVIDED).
Compiled plans are cached on the model keyed by the canonical document,
its variables and the model's mutation count — the analog of the 24h plan
cache keyed by (metamodel.created, variable keys, opName, document)
(``DefaultSingleRequestMaterializationGraphService.kt:105-180``). The
cache is a bounded LRU (:mod:`funcify_feature_eng_spark.plans.cache`):
its key holds variable values, so an unbounded map would grow by one
entry per distinct variable set.
"""

from __future__ import annotations

import json
from dataclasses import replace
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame

from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError

_TOP_KEYS = {"variables", "select"}
_SELECT_KEYS = {"columns", "features", "collections"}
_FEATURE_KEYS = {"feature", "args"}
_COLLECTION_KEYS = {"fields", "unnest"}


def _resolve_args(args: dict[str, Any], variables: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    for k, v in args.items():
        if isinstance(v, str) and v.startswith("$"):
            name = v[1:]
            if name not in variables:
                raise PlanError(
                    f"argument {k!r} references undefined variable ${name} "
                    f"(defined: {sorted(variables)})"
                )
            out[k] = variables[name]  # VARIABLE_VALUE_PROVIDED
        else:
            out[k] = v  # DIRECT_ARGUMENT_VALUE_PROVIDED
    return out


def _parse_feature_specs(feats: dict, what: str) -> dict[str, dict]:
    norm: dict[str, dict] = {}
    for out_name, spec in feats.items():
        if spec is None:
            spec = {}
        if not isinstance(spec, dict):
            raise PlanError(f"{what} {out_name!r} must be a dict")
        unknown = set(spec) - _FEATURE_KEYS
        if unknown:
            raise PlanError(f"{what} {out_name!r} has unknown keys: {sorted(unknown)}")
        norm[out_name] = {
            "feature": spec.get("feature", out_name),
            "args": dict(spec.get("args", {})),
        }
    return norm


def parse_document(
    doc: dict[str, Any]
) -> tuple[dict, list[str], dict[str, dict], dict[str, dict]]:
    """Validate the request document (the parse/validate stage). Returns
    (variables, passthrough columns, feature selections, collections)."""
    if not isinstance(doc, dict):
        raise PlanError("request document must be a dict")
    unknown = set(doc) - _TOP_KEYS
    if unknown:
        raise PlanError(f"unknown top-level document keys: {sorted(unknown)}")
    variables = doc.get("variables", {})
    if not isinstance(variables, dict):
        raise PlanError("'variables' must be a dict")
    select = doc.get("select")
    if not isinstance(select, dict):
        raise PlanError("document requires a 'select' dict")
    unknown = set(select) - _SELECT_KEYS
    if unknown:
        raise PlanError(f"unknown 'select' keys: {sorted(unknown)}")
    columns = list(select.get("columns", []))
    feats = select.get("features", {})
    if not isinstance(feats, dict):
        raise PlanError("'select.features' must be a dict of name -> spec")
    norm = _parse_feature_specs(feats, "feature selection")
    colls_in = select.get("collections", {})
    if not isinstance(colls_in, dict):
        raise PlanError("'select.collections' must be a dict of name -> spec")
    colls: dict[str, dict] = {}
    for out_name, spec in colls_in.items():
        if not isinstance(spec, dict):
            raise PlanError(f"collection {out_name!r} must be a dict")
        unknown = set(spec) - _COLLECTION_KEYS
        if unknown:
            raise PlanError(f"collection {out_name!r} has unknown keys: {sorted(unknown)}")
        fields = spec.get("fields")
        if not isinstance(fields, dict) or not fields:
            raise PlanError(f"collection {out_name!r} requires a non-empty 'fields' dict")
        colls[out_name] = {
            "fields": _parse_feature_specs(fields, f"collection {out_name!r} field"),
            "unnest": bool(spec.get("unnest", False)),
        }
    if sum(1 for c in colls.values() if c["unnest"]) > 1:
        raise PlanError("at most one collection may set 'unnest': true")
    if not columns and not norm and not colls:
        raise PlanError("document selects nothing")
    return variables, columns, norm, colls


def _doc_cache_key(doc: dict[str, Any]) -> str:
    # canonical form: sorted-key JSON of the select block + variable KEYS
    # (values are coerced at dispatch, like the reference's cache key)
    return json.dumps(
        {"select": doc.get("select", {}), "var_keys": sorted(doc.get("variables", {}))},
        sort_keys=True,
        separators=(",", ":"),
        default=str,
    )


def _bind_feature_selections(
    model: FeatureModel,
    req: FeatureModel,
    feats: dict[str, dict],
    variables: dict,
    what: str = "document",
) -> list[str]:
    """Register aliased/parameterized feature variants on the request-scoped
    model; names that are neither declared features nor variant-requiring
    pass through as data-element columns (P1). Returns output column names."""
    out_cols: list[str] = []
    for out_name, sel in feats.items():
        base_name = _resolve_feature_name(model, sel["feature"])
        if base_name is None:
            if sel["args"]:
                raise PlanError(
                    f"{what} selects unknown feature {sel['feature']!r} "
                    f"(declared: {sorted(model._features)})"
                )
            if out_name != sel["feature"]:
                # aliased column passthrough (GraphQL `alias: field`): route
                # through the alias registry so J1 tier-3 resolves it
                from funcify_feature_eng_spark.functions.scalars import to_snake_case

                req._aliases[to_snake_case(out_name)] = sel["feature"]
            out_cols.append(out_name)  # plain column passthrough
            continue
        args = _resolve_args(sel["args"], variables)
        base = model._features[base_name]
        if out_name == base_name and not args:
            out_cols.append(out_name)
            continue
        # aliased/parameterized variant: a request-scoped FeatureSpec with
        # document args overriding the declared defaults
        variant = replace(base, name=out_name, params={**base.params, **args})
        if out_name in req._features:
            del req._features[out_name]
        req._features[out_name] = variant
        out_cols.append(out_name)
    return out_cols


def _resolve_feature_name(model: FeatureModel, name: str) -> str | None:
    """Resolve a selected feature name against the declared features with
    the same convention-insensitive matching as J1 tiers 2-4 (exact, alias
    registry, snake_case-equivalent) — so a GraphQL-style ``eventSeq``
    selection binds the declared ``event_seq`` feature. None if no feature
    matches (the name may still be a spine/source column)."""
    from funcify_feature_eng_spark.functions.scalars import to_snake_case

    if name in model._features:
        return name
    canon = to_snake_case(name)
    target = model._aliases.get(canon)
    if target is not None and target in model._features:
        return target
    for f in model._features:
        if to_snake_case(f) == canon:
            return f
    return None


def compile_document(
    model: FeatureModel,
    doc: dict[str, Any],
    spine_cols: Sequence[str] | None = None,
) -> tuple[FeatureModel, list[str], dict[str, dict]]:
    """Compile a request document against a base model: returns a
    request-scoped model (base features + parameterized/aliased variants),
    the output column list for ``materialize``, and the compiled collection
    specs (field output names bound, ListSegment analog). With
    ``spine_cols`` (known at materialize), flat feature selections may also
    resolve to columns/sources/variables via J1 (GraphQL aliasing)."""
    variables, columns, feats, colls = parse_document(doc)

    req = FeatureModel(
        entity_key=model.entity_key,
        order=model.order,
        event_time=model.event_time,
        registry=model.registry,
        max_depth=model.max_depth,
    )
    req._features = dict(model._features)
    req._aliases = dict(model._aliases)
    req._stores = dict(model._stores)
    req._sources = dict(model._sources)
    req._last_updated = dict(model._last_updated)

    out_cols = list(columns)
    if colls:
        # collections change the result grain to one row per entity (or per
        # element when unnested). Non-collection selections (columns and
        # features) are ENTITY-grain scalars: each takes the entity's
        # latest-in-model-order value — the "current state" reading, the
        # same latest-prior convention as J3/as-of. Deterministic because
        # the model order is a total order per entity (O1).
        scalar_outs = _bind_feature_selections(model, req, feats, variables)
        out_cols += scalar_outs
        for cname, cspec in colls.items():
            if cname in out_cols:
                raise PlanError(
                    f"collection {cname!r} collides with a scalar selection"
                )
            cspec["field_cols"] = _bind_feature_selections(
                model, req, cspec["fields"], variables, what=f"collection {cname!r}"
            )
            out_cols.append(cname)
    else:
        # strictly-validated flat path: a feature selection must resolve to
        # a declared feature, or (when the spine is known) to a column /
        # source field / variable — unresolvable names are compile errors
        for out_name, sel in feats.items():
            if _resolve_feature_name(model, sel["feature"]) is not None:
                continue
            if spine_cols is None:
                raise PlanError(
                    f"document selects unknown feature {sel['feature']!r} "
                    f"(declared: {sorted(model._features)})"
                )
            try:
                model.resolve_name(
                    sel["feature"], spine_cols,
                    tuple(sorted(doc.get("variables", {}))),
                )
            except PlanError as e:
                raise PlanError(
                    f"document selects unknown feature {sel['feature']!r}: {e}"
                ) from None
        out_cols += _bind_feature_selections(model, req, feats, variables)
    return req, out_cols, colls


def _compiled(
    model: FeatureModel, spine: DataFrame, doc: dict[str, Any]
) -> tuple[FeatureModel, list[str], dict[str, dict]]:
    """:func:`compile_document`, cached on the base model (a bounded LRU)
    keyed by the canonical document (the 24h-plan-cache analog); variable
    VALUES are applied at compile because they parameterize column
    expressions — a changed value is a different plan, hence part of the
    key via args."""
    # spine columns join the key: compile now validates flat selections
    # against them, so a compile cached for one spine must not be reused
    # for a spine with different columns
    key = (
        _doc_cache_key(doc),
        json.dumps(doc.get("variables", {}), sort_keys=True, default=str),
        tuple(sorted(spine.columns)),
        # model mutation counter: compile snapshots the model's feature/
        # alias/source registries into the request model, so a declaration
        # made AFTER a document ran must invalidate that snapshot — the
        # tabular path's _plan_cache clears on mutation, and without this
        # term the two entry points disagreed on a mutated model
        model._mutations,
    )
    hit = model._doc_cache.get(key)
    if hit is None:
        hit = compile_document(model, doc, spine.columns)
        model._doc_cache.put(key, hit)
    return hit


def materialize_document(
    model: FeatureModel, spine: DataFrame, doc: dict[str, Any]
) -> DataFrame:
    """Execute a document-shaped request on a spine through the base model."""
    return document_frame(model, spine, doc)[0]


def document_frame(
    model: FeatureModel,
    spine: DataFrame,
    doc: dict[str, Any],
    keep_key: bool = False,
) -> tuple[DataFrame, list[str]]:
    """:func:`materialize_document` as ``(frame, outputs)``. The frame's
    leading columns are the outputs; with ``keep_key`` the model's entity
    key column follows them when no output already carries it under its
    own name, so a caller can filter the frame by entity and then drop
    the key."""
    req, out_cols, colls = _compiled(model, spine, doc)
    variables = doc.get("variables")
    if colls:
        return _materialize_collections(
            req, spine, colls, variables, out_cols, keep_key
        )
    cols = list(out_cols)
    if keep_key and req.entity_key not in cols:
        cols.append(req.entity_key)
    # variables also feed J1 tier-6 resolution (names satisfiable from
    # the request's variable set), not just feature arguments
    return req.materialize(spine, cols, variables=variables), list(out_cols)


def document_stores(
    model: FeatureModel, spine: DataFrame, doc: dict[str, Any]
) -> list:
    """The registered stores (DataFrames or FeatureStores) the compiled
    request reads: the right sides of its as-of and interval stages."""
    req, out_cols, colls = _compiled(model, spine, doc)
    names = [c for c in out_cols if c not in colls]
    for cspec in colls.values():
        names += cspec["field_cols"]
    var_keys = tuple(sorted(doc.get("variables", {})))
    plan = req.compile(names, spine.columns, var_keys)
    return [req._stores[s.store_name] for s in plan if s.store_name is not None]


def _materialize_collections(
    req: FeatureModel,
    spine: DataFrame,
    colls: dict[str, dict],
    variables: dict | None,
    out_cols: list[str],
    keep_key: bool = False,
) -> tuple[DataFrame, list[str]]:
    """ListSegment fan-in/fan-out: materialize element-grain fields, then
    either collect them into ordered ``array<struct>`` columns (one row per
    entity — the nested-document composition direction of
    ``DefaultGQLDocumentComposer.kt``) or, for a collection marked
    ``unnest: true``, re-explode to one row per element with its index (the
    result-path fan-out of ``schema/path/result/ListSegment.kt:9-29``).

    Non-collection selections in ``out_cols`` are entity-grain scalars:
    each is the entity's latest-in-model-order value (``max_by`` over the
    order tuple — same exchange as the collect, no extra window pass).

    One element-grain pass serves every collection; the collect is a single
    groupBy(entity) with one ``collect_list`` per collection — ordering is
    encoded in the struct prefix (the model's order columns) and enforced
    with ``array_sort``, then stripped, so no per-group sort/window is needed
    beyond the one aggregation exchange.

    Returns ``(frame, outputs)`` like :func:`document_frame`, ``keep_key``
    included."""
    from pyspark.sql import functions as F

    entity = req.entity_key
    order_cols = list(req.order)
    scalar_outs = [c for c in out_cols if c not in colls]
    field_union: list[str] = []
    for cspec in colls.values():
        for f in cspec["field_cols"]:
            if f not in field_union:
                field_union.append(f)
    for s in scalar_outs:
        if s not in field_union and s != entity:
            field_union.append(s)
    elem_cols = [entity] + [c for c in order_cols if c not in field_union] + field_union
    elems = req.materialize(spine, elem_cols, variables=variables)

    order_tuple = F.struct(*[F.col(c) for c in order_cols])
    aggs = []
    for cname, cspec in colls.items():
        packed = F.struct(
            *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
            *[F.col(f).alias(f) for f in cspec["field_cols"]],
        )
        aggs.append(F.array_sort(F.collect_list(packed)).alias(cname))
    for s in scalar_outs:
        if s != entity:
            aggs.append(F.max_by(F.col(s), order_tuple).alias(s))
    out = elems.groupBy(entity).agg(*aggs)

    unnest_name = next((n for n, c in colls.items() if c["unnest"]), None)

    def _strip(field_cols: list[str]):
        # NB: a one-parameter lambda — a default second param would make
        # PySpark treat it as the (element, index) binary form
        return lambda x: F.struct(*[x[f].alias(f) for f in field_cols])

    from funcify_feature_eng_spark.functions.scalars import to_snake_case

    def _selects_entity(c: str) -> bool:
        # the entity key may be selected under a convention alias (userId)
        # or a registered alias — don't re-prepend it then
        canon = to_snake_case(c)
        if c == entity or canon == entity:
            return True
        target = req._aliases.get(canon)
        return target is not None and to_snake_case(target) == entity

    for cname, cspec in colls.items():
        out = out.withColumn(cname, F.transform(F.col(cname), _strip(cspec["field_cols"])))
    keep = out_cols if any(_selects_entity(c) for c in out_cols) else [entity] + out_cols
    key = [entity] if keep_key and entity not in keep else []
    if unnest_name is None:
        return out.select(*keep, *key), list(keep)
    fields = colls[unnest_name]["field_cols"]
    pre = [c for c in keep if c != unnest_name]
    out = out.select(
        *pre, *key,
        F.posexplode(F.col(unnest_name)).alias(f"{unnest_name}_idx", "__e"),
    )
    # re-expand in document order, the unnested fields at the collection's slot
    final: list = []
    names: list[str] = []
    for c in keep:
        if c == unnest_name:
            final.append(F.col(f"{unnest_name}_idx"))
            final.extend(F.col("__e")[f].alias(f) for f in fields)
            names += [f"{unnest_name}_idx", *fields]
        else:
            final.append(F.col(c))
            names.append(c)
    return out.select(*final, *key), names
