"""Property-value serde for the reference's five-type system.

TorcDB serializes property values with a 1-byte type tag over exactly five
types — INTEGER, LONG, STRING, LIST, MAP (TorcHelper.java:92-127, encode
:138-215, decode :252-299). The Spark engine stores properties either as
typed columns (preferred, per-label layout) or as a generic
MAP<STRING,STRING> with tagged string values; this module provides the
tagged-string codec and guarantees round-trip fidelity for the five
reference types, including arbitrary nesting (list<map<...>> etc.).

Wire format (printable, sortable on type tag):
    i:<decimal>            INTEGER  (32-bit, range-checked)
    l:<decimal>            LONG
    s:<raw string>         STRING
    L:<n>:<e1>,<e2>,...    LIST  — elements length-prefixed recursively
    M:<n>:<k1>,<v1>,...    MAP   — alternating key/value, length-prefixed

Length-prefixing uses ``<len>|<payload>`` per element so values containing
delimiters round-trip exactly.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified type hints

INT_MIN, INT_MAX = -(1 << 31), (1 << 31) - 1
LONG_MIN, LONG_MAX = -(1 << 63), (1 << 63) - 1


def encode_value(v) -> str:
    """Encode one of the five reference types to the tagged string form."""
    if isinstance(v, bool):
        raise TypeError("boolean is not a reference property type "
                        "(TorcHelper.java:92-127)")
    if isinstance(v, int):
        if INT_MIN <= v <= INT_MAX:
            return f"i:{v}"
        if LONG_MIN <= v <= LONG_MAX:
            return f"l:{v}"
        raise ValueError(f"integer out of 64-bit range: {v}")
    if isinstance(v, str):
        return f"s:{v}"
    if isinstance(v, (list, tuple)):
        parts = [_prefixed(encode_value(e)) for e in v]
        return f"L:{len(parts)}:" + "".join(parts)
    if isinstance(v, dict):
        parts = []
        for k, val in v.items():
            parts.append(_prefixed(encode_value(k)))
            parts.append(_prefixed(encode_value(val)))
        return f"M:{len(v)}:" + "".join(parts)
    raise TypeError(
        f"unsupported property type {type(v).__name__}; reference types are "
        "int/long/string/list/map (TorcHelper.java:92-127)"
    )


def decode_value(s: str):
    v, rest = _decode_prefixless(s)
    if rest:
        raise ValueError(f"trailing bytes after value: {rest!r}")
    return v


def _prefixed(payload: str) -> str:
    return f"{len(payload)}|{payload}"


# ---------------------------------------------------------------------------
# Column-side codec (Arrow-batched pandas UDFs)
#
# The tagged format is not JVM-expressible without a custom Catalyst
# expression, so the column forms are vectorized pandas UDFs. They run only
# on the property-update path (the updates side of set_vertex_property — a
# small fraction of the vertex set) and on explicit decode projections of
# query results, never inside a scan/join hot path.
# ---------------------------------------------------------------------------


def normalize_py(v):
    """Coerce Arrow/pandas representations to the five reference types:
    numpy ints → int, numpy str → str, ndarray/list → list, MapType rows
    (list of (k, v) tuples) and dicts → dict."""
    import numpy as np

    if v is None:
        return None
    if isinstance(v, (bool,)):
        raise TypeError("boolean is not a reference property type")
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.str_):
        return str(v)
    if isinstance(v, dict):
        return {normalize_py(k): normalize_py(x) for k, x in v.items()}
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        # Arrow renders MAP columns as a list of (key, value) 2-tuples
        if v and all(isinstance(e, tuple) and len(e) == 2 for e in v):
            return {normalize_py(k): normalize_py(x) for k, x in v}
        return [normalize_py(e) for e in v]
    return v


def as_value(s: str):
    """Interpret a stored props-map entry: tagged strings decode through the
    codec; untagged strings (the raw values `from_tables` writes) are plain
    STRINGs. A raw string that happens to look tagged (e.g. user data
    ``"i:5"``) would mis-decode — set_vertex_property-managed keys must not
    alias raw-cast keys (documented contract, enforced nowhere cheaper).
    A tagged-looking string whose payload does NOT parse (``"i:hello"``)
    falls back to the raw string rather than failing the Arrow batch."""
    if len(s) >= 2 and s[1] == ":" and s[0] in "ilsLM":
        try:
            return decode_value(s)
        except ValueError:
            return s
    return s


def _stringify(v) -> str:
    return v if isinstance(v, str) else str(v)


def prop_list_col(c):
    """Decode a tagged LIST property column → array<string> (elements
    stringified). Untagged/scalar values become 1-element arrays; NULL stays
    NULL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _dec(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            v = as_value(x)
            return [_stringify(e) for e in v] if isinstance(v, list) else [_stringify(v)]

        return s.map(one)

    return _dec(c)


def prop_map_col(c):
    """Decode a tagged MAP property column → map<string,string>."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("map<string,string>")
    def _dec(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            v = as_value(x)
            if not isinstance(v, dict):
                raise ValueError(f"not a MAP property: {x[:32]!r}")
            return {_stringify(k): _stringify(val) for k, val in v.items()}

        return s.map(one)

    return _dec(c)


def merge_prop_col(existing, new_values, cardinality: str):
    """Fold a batch of new values into an existing tagged property value
    under TinkerPop cardinality semantics (TorcGraph.java:1468-1526;
    repeated-key-to-list in addVertex, TorcGraph.java:264-283):

    - single: last value wins (batch folds left-to-right over the sorted
      values, so the max sorts last — deterministic);
    - list: append each value; a pre-existing scalar is promoted to a
      1-element list first (the reference's repeated-key promotion);
    - set: append only values not already present.

    ``existing`` is the current tagged-or-raw value (NULL if unset);
    ``new_values`` an array column of this batch's values for the key.
    """
    from pyspark.sql.functions import pandas_udf

    if cardinality not in ("single", "list", "set"):
        raise ValueError(f"unknown cardinality {cardinality!r}")

    @pandas_udf("string")
    def _merge(ex: pd.Series, nv: pd.Series) -> pd.Series:
        def one(x, vals):
            vals = [normalize_py(v) for v in (vals if vals is not None else [])]
            if not vals:
                return x
            if cardinality == "single":
                return encode_value(vals[-1])
            cur = [] if x is None else (
                v if isinstance(v := as_value(x), list) else [v]
            )
            for v in vals:
                if cardinality == "set" and v in cur:
                    continue
                cur.append(v)
            return encode_value(cur)

        return pd.Series([one(x, v) for x, v in zip(ex, nv)])

    return _merge(existing, new_values)


def _take_prefixed(s: str) -> tuple[str, str]:
    bar = s.index("|")
    n = int(s[:bar])
    start = bar + 1
    return s[start : start + n], s[start + n :]


def _decode_prefixless(s: str):
    tag, rest = s[0], s[2:]
    if s[1] != ":":
        raise ValueError(f"malformed tagged value: {s[:16]!r}")
    if tag == "i":
        v = int(rest)
        if not (INT_MIN <= v <= INT_MAX):
            raise ValueError(f"INTEGER out of range: {v}")
        return v, ""
    if tag == "l":
        return int(rest), ""
    if tag == "s":
        return rest, ""
    if tag in ("L", "M"):
        colon = rest.index(":")
        n = int(rest[:colon])
        body = rest[colon + 1 :]
        items = []
        count = n * 2 if tag == "M" else n
        for _ in range(count):
            payload, body = _take_prefixed(body)
            item, extra = _decode_prefixless(payload)
            if extra:
                raise ValueError("nested value with trailing bytes")
            items.append(item)
        if tag == "L":
            return items, body
        return dict(zip(items[0::2], items[1::2])), body
    raise ValueError(f"unknown type tag {tag!r}")
