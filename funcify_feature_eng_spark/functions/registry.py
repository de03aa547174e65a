"""Named transformer registry — the TransformerSource analog.

Reference: transformer sources are named, schema-typed jq expressions loaded
from YAML and invoked with named args + defaults
(``jq/.../JqTransformerYamlReader.kt``, ``schema/transformer/
TransformerCallable.kt:15,34-37``; unary convention: single arg named
``input`` — ``file-registry/.../DefaultFeatureCalculatorCallable.kt:91-103``).

Here a transformer is a builder ``(*Column) -> Column`` (JVM-side expression,
preferred) or an Arrow ``pandas_udf`` (the slow path, still vectorized).
Never a row-at-a-time Python UDF.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


NUMERIC_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}


@dataclass
class Transformer:
    name: str
    builder: Callable[..., Column]
    args: tuple[str, ...] = ("input",)
    defaults: dict[str, Any] = field(default_factory=dict)
    description: str = ""
    # input-schema validation (P6, DefaultJacksonJqTransformer.kt:89-113):
    # arg name → expected Spark type ("double", "string", "array<string>",
    # ...) or the JSON-Schema-style family "number" (any numeric). Validated
    # at plan time against the actual frame schema — the Spark analog of the
    # reference's runtime JSON-Schema check on the jq input document.
    arg_types: dict[str, str] = field(default_factory=dict)
    # VALUE-level validation (the other half of P6): a JSON-Schema-subset
    # dict applied to the transformer's JSON-blob input column at execution
    # time via plans/validation.py — malformed or constraint-violating blobs
    # are quarantined with reasons, not silently nulled.
    value_schema: dict[str, Any] | None = None

    def __call__(self, *cols: Column, **kwargs: Any) -> Column:
        return self.builder(*cols, **kwargs)

    def guard_values(self, df, col: str):
        """Split ``df`` into (valid, quarantined) under ``value_schema``;
        identity split when no value schema is declared."""
        if self.value_schema is None:
            return df, df.limit(0).withColumn(
                "violations", F.array().cast("array<string>")
            )
        from funcify_feature_eng_spark.plans.validation import validate_json_values

        return validate_json_values(df, col, self.value_schema)

    def validate_input_types(self, actual: dict[str, str]) -> None:
        """``actual``: arg name → the bound column's Spark simpleString type.
        Raises TypeError on mismatch (the P6 contract)."""
        for arg, want in self.arg_types.items():
            got = actual.get(arg)
            if got is None:
                continue  # arg bound to a literal/default — nothing to check
            if want == "number":
                ok = got in NUMERIC_TYPES or got.startswith("decimal")
            else:
                ok = got == want
            if not ok:
                raise TypeError(
                    f"transformer {self.name!r}: arg {arg!r} expects type "
                    f"{want!r} but is bound to a column of type {got!r}"
                )


class TransformerRegistry:
    """Name → Transformer; names are matched convention-insensitively
    (snake/camel/pascal — reference naming module, F8)."""

    def __init__(self) -> None:
        self._by_name: dict[str, Transformer] = {}
        # bumped on every registration: request templates built from a
        # transformer's builder fold it into their cache key, so
        # re-registering a name is seen by the next request
        self.version = 0

    def register(
        self,
        name: str,
        builder: Callable[..., Column],
        args: Sequence[str] = ("input",),
        defaults: dict[str, Any] | None = None,
        description: str = "",
        arg_types: dict[str, str] | None = None,
        value_schema: dict[str, Any] | None = None,
    ) -> Transformer:
        t = Transformer(name, builder, tuple(args), defaults or {}, description,
                        arg_types or {}, value_schema)
        self._by_name[_canon(name)] = t
        self.version += 1
        return t

    def register_pandas(
        self,
        name: str,
        fn: Callable,
        return_type: str,
        args: Sequence[str] = ("input",),
        defaults: dict[str, Any] | None = None,
        description: str = "",
    ) -> Transformer:
        """Arrow-vectorized scalar UDF (pd.Series -> pd.Series)."""
        udf = F.pandas_udf(fn, return_type)
        return self.register(name, lambda *c, **k: udf(*c), args, defaults, description)

    def get(self, name: str) -> Transformer:
        key = _canon(name)
        if key not in self._by_name:
            raise KeyError(
                f"unknown transformer {name!r}; known: {sorted(self._by_name)}"
            )
        return self._by_name[key]

    def __contains__(self, name: str) -> bool:
        return _canon(name) in self._by_name

    def names(self) -> list[str]:
        return sorted(self._by_name)

    def apply(self, name: str, *cols: Column, **kwargs: Any) -> Column:
        return self.get(name)(*cols, **kwargs)


def _canon(name: str) -> str:
    from funcify_feature_eng_spark.functions.scalars import to_snake_case

    return to_snake_case(name)


def default_registry() -> TransformerRegistry:
    """Registry preloaded with the reference's golden transformers (F1–F9)
    plus the text/vector libraries."""
    from funcify_feature_eng_spark.functions import scalars as S
    from funcify_feature_eng_spark.functions import text as T
    from funcify_feature_eng_spark.functions import vectors as V

    r = TransformerRegistry()
    # reference jq transformers (golden cases in FIXTURES.md §4)
    r.register("negative_to_null", S.negative_to_null, description="jq-transformers.yml:2-7")
    r.register("list_size", S.list_size, description="jq-transformers.yml:8-13")
    r.register("extract_decade", S.extract_decade, description="jq-transformers.yml:14-19")
    r.register("parse_duration_minutes", S.parse_duration_minutes)
    r.register("parse_num_seasons", S.parse_num_seasons)
    r.register("split_list", S.split_list)
    r.register("first_name", S.first_name)
    r.register("last_name", S.last_name)
    r.register("decimal3", S.decimal3)
    r.register("decimal7", S.decimal7)
    r.register("decimal16", S.decimal16)
    # text analysis
    r.register("token_count", T.token_count)
    r.register("bpe_ish_token_count", T.bpe_ish_token_count)
    r.register("char_len", T.char_len)
    r.register("alpha_ratio", T.alpha_ratio)
    r.register("punct_ratio", T.punct_ratio)
    r.register("mean_word_len", T.mean_word_len)
    r.register("stopword_ratio", T.stopword_ratio)
    r.register("quality_score", T.quality_score)
    r.register("lang_id", T.lang_id)
    r.register("fingerprint64", T.fingerprint64)
    # vectors
    r.register("cosine", V.cosine, args=("a", "b"))
    r.register("dot", V.dot, args=("a", "b"))
    r.register("l2_distance", V.l2_distance, args=("a", "b"))
    return r
