"""Declarative YAML job config — the engine's user-facing surface.

The reference's operators never write code: its entire surface is a
YAML datamodel — types with primary keys and FKs, attribute mappings
(plain column / column list / template expression), merge and
integrity constraints, queue/retry knobs — validated against a
cerberus schema and loaded into runtime objects
(/root/reference/hermes-server-config-example.yml:100-310,
/root/reference/lib/config/__init__.py:88-447,
/root/reference/server/config-schema-server.yml).

The Spark analog here: ONE YAML document wires the existing engine
pieces into a ready-to-run pipeline.  Nothing in this module computes;
it validates, names the offending config path on error (the cerberus
behavior users rely on), and constructs the same objects a Python
caller would::

    hermes-spark:
      pipeline:
        source: /data/incoming          # parquet micro-batch dir
        work_dir: /data/run             # checkpoint + target + dlq
        mode: stateful                  # stateful | join
        watermark: "10 minutes"
        max_files_per_trigger: 1
        n_buckets: 128                  # stateful only; optional, pinned per checkpoint
        validator: {expr: "coalesce(length(text) <= 4096, true)"}
        retry_every: 4                  # errorQueue_retryInterval
        maintain_every: 8               # in-stream incremental compact
        foreignkeys_policy: on_remove_event
        foreignkeys:
          - {parent: conv_id, child: conv_id}
      datamodel:                        # client fan-out (optional)
        passthrough: [ts]
        types:
          user_turns:
            attrsmapping:               # plans.mapping spec language:
              login: text               #   str        -> column
              evidence: [text, tool]    #   list[str]  -> compact array
              mood: {expr: "upper(tool)"}   # {expr} -> SQL expression
            allow_empty: false
      status:
        path: /data/run/status.jsonl    # JSONL audit stream
        keep: 256

The expression language is Spark SQL analyzed by Catalyst (the
reference uses Jinja interpreted per row — same role, JVM speed), so
a bad expression fails at LOAD time with the config path named, not
mid-stream.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "ConfigError",
    "load_config",
    "build_pipeline",
    "register_validator",
    "VALIDATORS",
]


class ConfigError(ValueError):
    """A config problem, carrying the dotted path of the bad node —
    the error shape the reference's cerberus validation gives users
    (config path + reason), which is what makes a declarative surface
    debuggable without reading engine code."""

    def __init__(self, path: str, message: str) -> None:
        self.path = path
        self.message = message
        super().__init__(f"{path}: {message}")


#: live status listeners per (SparkSession, work_dir) — build_pipeline
#: evicts a work_dir's previous listener on rebuild (see the status
#: block at the bottom); weak keys so a stopped session drops its map
_STATUS_LISTENERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


# -- named-validator registry ------------------------------------------------

#: Callables usable as ``validator: {name: ...}`` — ``fn(df) -> Column``
#: (boolean verdict per row; NULL means "no opinion" → the row applies).
VALIDATORS: dict[str, Callable[[DataFrame], Any]] = {}


def register_validator(name: str, fn: Callable[[DataFrame], Any]) -> None:
    VALIDATORS[name] = fn


def _refuse_join_n_buckets(mode: str, n_buckets: int | None) -> None:
    """``n_buckets`` keys the stateful classifier's state; the join
    classifier's state is the target table, which has no buckets."""
    if mode == "join" and n_buckets is not None:
        raise ConfigError(
            "hermes-spark.pipeline.n_buckets",
            "only meaningful with mode: stateful — the join mode keeps "
            "its state in the target table, which has no buckets",
        )


# -- tiny schema walker --------------------------------------------------------


def _require_mapping(node: Any, path: str) -> Mapping:
    if not isinstance(node, Mapping):
        raise ConfigError(path, f"expected a mapping, got {type(node).__name__}")
    return node


def _check_keys(node: Mapping, path: str, required: set, optional: set) -> None:
    missing = required - set(node)
    if missing:
        raise ConfigError(path, f"missing required key(s): {sorted(missing)}")
    unknown = set(node) - required - optional
    if unknown:
        raise ConfigError(
            path,
            f"unknown key(s) {sorted(unknown)} — "
            f"valid keys: {sorted(required | optional)}",
        )


def _typed(node: Mapping, path: str, key: str, types, default=None, enum=None):
    if key not in node or node[key] is None:
        return default
    v = node[key]
    if types is bool and not isinstance(v, bool):
        raise ConfigError(f"{path}.{key}", f"expected a boolean, got {v!r}")
    if types is int and (isinstance(v, bool) or not isinstance(v, int)):
        raise ConfigError(f"{path}.{key}", f"expected an integer, got {v!r}")
    if types is str and not isinstance(v, str):
        raise ConfigError(f"{path}.{key}", f"expected a string, got {v!r}")
    if isinstance(types, tuple) and (
        isinstance(v, bool) or not isinstance(v, types)
    ):
        raise ConfigError(f"{path}.{key}", f"expected a number, got {v!r}")
    if enum is not None and v not in enum:
        raise ConfigError(f"{path}.{key}", f"must be one of {sorted(enum)}, got {v!r}")
    return v


def _str_list(node: Mapping, path: str, key: str, default: list) -> list[str]:
    if key not in node or node[key] is None:
        return list(default)
    v = node[key]
    if not isinstance(v, list) or not all(isinstance(x, str) for x in v):
        raise ConfigError(f"{path}.{key}", f"expected a list of strings, got {v!r}")
    return v


_FK_POLICIES = {"disabled", "on_remove_event", "on_every_event"}
_MODES = {"stateful", "join"}


def _validate_mapping_spec(spec: Any, path: str, allow_secret: bool = True) -> None:
    """One attrsmapping entry, in the plans.mapping spec language
    (reference attrsmapping: column / list-of-columns / template,
    hermes-server-config-example.yml:127-139 and 313-341).  The
    mapping form also takes ``secret: true`` (reference per-attr
    secret flag, lib/config/__init__.py:175-183): secret attrs are
    physically purged from the cached target when later removed from
    the datamodel."""
    if isinstance(spec, str):
        return
    if isinstance(spec, list):
        if not spec or not all(isinstance(c, str) for c in spec):
            raise ConfigError(path, "column list must be non-empty strings")
        return
    if isinstance(spec, Mapping):
        optional = {"secret"} if allow_secret else set()
        _check_keys(spec, path, set(), {"expr", "col"} | optional)
        if ("expr" in spec) == ("col" in spec):
            raise ConfigError(path, "give exactly one of expr: or col:")
        if "expr" in spec and (
            not isinstance(spec["expr"], str) or not spec["expr"].strip()
        ):
            raise ConfigError(f"{path}.expr", "expected a non-empty SQL expression")
        if "col" in spec and (
            not isinstance(spec["col"], str) or not spec["col"].strip()
        ):
            raise ConfigError(f"{path}.col", "expected a column name")
        if "secret" in spec and not isinstance(spec["secret"], bool):
            raise ConfigError(f"{path}.secret", "expected a boolean")
        return
    raise ConfigError(
        path,
        f"bad mapping spec {spec!r} — use a column name, a list of "
        "column names, or a mapping with expr:/col: (+ secret:)",
    )


def _spec_is_secret(spec: Any) -> bool:
    return isinstance(spec, Mapping) and bool(spec.get("secret"))


def _spec_col(spec):
    """A normalized one-column spec (str | {"expr": ...}) as a Column."""
    return F.col(spec) if isinstance(spec, str) else F.expr(spec["expr"])


def _normalize_spec(spec: Any):
    """Strip the config-level ``secret``/``col`` sugar down to the
    plans.mapping spec language (str | list[str] | {"expr": ...})."""
    if isinstance(spec, Mapping):
        if "col" in spec:
            return spec["col"]
        return {"expr": spec["expr"]}
    return spec


def load_config(source) -> dict:
    """Parse + validate a job config; returns the normalized dict.

    ``source``: a path to a YAML file, a YAML string, or an
    already-parsed mapping.  Raises :class:`ConfigError` naming the
    dotted path of the first offending node."""
    import os

    if isinstance(source, Mapping):
        doc = source
    else:
        import yaml

        text = source
        if isinstance(source, str) and (
            os.path.sep in source or source.endswith((".yml", ".yaml"))
        ) and os.path.exists(source):
            with open(source) as f:
                text = f.read()
        try:
            doc = yaml.safe_load(text)
        except yaml.YAMLError as e:
            raise ConfigError("<document>", f"invalid YAML: {e}") from e
    doc = _require_mapping(doc, "<document>")
    _check_keys(doc, "<document>", {"hermes-spark"}, set())
    root = _require_mapping(doc["hermes-spark"], "hermes-spark")
    _check_keys(
        root, "hermes-spark", set(),
        {"pipeline", "datamodel", "status", "curation"},
    )
    if "pipeline" not in root and "curation" not in root:
        raise ConfigError(
            "hermes-spark", "declare pipeline: and/or curation:"
        )
    if "datamodel" in root and "pipeline" not in root:
        raise ConfigError(
            "hermes-spark.datamodel", "datamodel requires pipeline:"
        )

    out: dict = {}
    if "pipeline" not in root:
        out["pipeline"] = None
        out["curation"] = _load_curation(root["curation"])
        if "status" in root:
            raise ConfigError(
                "hermes-spark.status",
                "status reports on a pipeline — declare pipeline:",
            )
        return out

    # -- pipeline ----------------------------------------------------------
    p_path = "hermes-spark.pipeline"
    p = _require_mapping(root["pipeline"], p_path)
    _check_keys(
        p, p_path, {"source", "work_dir"},
        {"mode", "watermark", "max_files_per_trigger", "n_buckets",
         "validator", "retry_every", "maintain_every",
         "foreignkeys_policy", "foreignkeys", "tombstone"},
    )
    mode = _typed(p, p_path, "mode", str, default="stateful", enum=_MODES)
    pipeline = {
        "mode": mode,
        "source": _typed(p, p_path, "source", str),
        "work_dir": _typed(p, p_path, "work_dir", str),
        "watermark": _typed(p, p_path, "watermark", str, default="10 minutes"),
        "max_files_per_trigger": _typed(p, p_path, "max_files_per_trigger", int),
        "n_buckets": _typed(p, p_path, "n_buckets", int),
        "retry_every": _typed(p, p_path, "retry_every", int),
        "maintain_every": _typed(p, p_path, "maintain_every", int),
        "foreignkeys_policy": _typed(
            p, p_path, "foreignkeys_policy", str,
            default="disabled", enum=_FK_POLICIES,
        ),
    }
    if not isinstance(p["source"], str) or not isinstance(p["work_dir"], str):
        raise ConfigError(p_path, "source and work_dir must be strings")
    _refuse_join_n_buckets(mode, pipeline["n_buckets"])
    for k in (
        "retry_every", "maintain_every", "max_files_per_trigger", "n_buckets"
    ):
        if pipeline[k] is not None and pipeline[k] < 1:
            raise ConfigError(f"{p_path}.{k}", f"must be >= 1, got {pipeline[k]}")

    v = p.get("validator")
    if v is not None:
        v_path = f"{p_path}.validator"
        v = _require_mapping(v, v_path)
        _check_keys(v, v_path, set(), {"expr", "name"})
        if ("expr" in v) == ("name" in v):
            raise ConfigError(v_path, "give exactly one of expr: or name:")
        if "name" in v and v["name"] not in VALIDATORS:
            raise ConfigError(
                f"{v_path}.name",
                f"unknown validator {v['name']!r} — registered: "
                f"{sorted(VALIDATORS) or '(none)'}",
            )
        pipeline["validator"] = dict(v)
    else:
        pipeline["validator"] = None

    tb = p.get("tombstone")
    pipeline["tombstone_mode"] = "drop"
    pipeline["tombstone_retention"] = None
    if tb is not None:
        t_path = f"{p_path}.tombstone"
        tb = _require_mapping(tb, t_path)
        _check_keys(tb, t_path, {"mode"}, {"retention"})
        pipeline["tombstone_mode"] = _typed(
            tb, t_path, "mode", str, enum={"drop", "retain"}
        )
        pipeline["tombstone_retention"] = _typed(tb, t_path, "retention", str)
        if (
            pipeline["tombstone_retention"] is not None
            and pipeline["tombstone_mode"] != "retain"
        ):
            raise ConfigError(
                f"{t_path}.retention", "only meaningful with mode: retain"
            )

    fks = p.get("foreignkeys")
    fk_map: list[tuple[str, str]] = []
    if fks is not None:
        if not isinstance(fks, list):
            raise ConfigError(f"{p_path}.foreignkeys", "expected a list")
        for i, edge in enumerate(fks):
            e_path = f"{p_path}.foreignkeys[{i}]"
            edge = _require_mapping(edge, e_path)
            _check_keys(edge, e_path, {"parent", "child"}, set())
            fk_map.append(
                (
                    _typed(edge, e_path, "parent", str),
                    _typed(edge, e_path, "child", str),
                )
            )
    pipeline["fk_map"] = fk_map or None
    if pipeline["foreignkeys_policy"] != "disabled" and not fk_map:
        raise ConfigError(
            f"{p_path}.foreignkeys_policy",
            f"{pipeline['foreignkeys_policy']!r} needs at least one "
            "foreignkeys: edge",
        )
    # the whole error-queue surface hangs off the validator: without
    # one the pipelines never construct a DeadLetterQueue, so declared
    # retry/FK knobs would be silently inert — reject at LOAD time
    # (the module contract: meaningless configs fail with the path
    # named, never half-apply)
    if pipeline.get("validator") is None:
        for knob in ("retry_every", "foreignkeys_policy", "foreignkeys"):
            if knob in p and p[knob] not in (None, "disabled", []):
                raise ConfigError(
                    f"{p_path}.{knob}",
                    "error-queue settings need pipeline.validator — "
                    "without one no event can ever enter the queue",
                )
    out["pipeline"] = pipeline

    # -- datamodel (fan-out) -------------------------------------------------
    dm = root.get("datamodel")
    if dm is not None:
        d_path = "hermes-spark.datamodel"
        if mode != "stateful":
            raise ConfigError(
                d_path, "datamodel fan-out requires pipeline.mode: stateful"
            )
        dm = _require_mapping(dm, d_path)
        _check_keys(dm, d_path, {"types"}, {"passthrough", "type_col", "key"})
        passthrough = _str_list(dm, d_path, "passthrough", ["ts"])
        type_col = _typed(dm, d_path, "type_col", str, default="_objtype")
        types_node = _require_mapping(dm["types"], f"{d_path}.types")
        if not types_node:
            raise ConfigError(f"{d_path}.types", "declare at least one type")
        # declarative pkey override: local objects key on these derived
        # columns instead of the default (conv_id, turn_idx) tuple.
        # Changing this between runs over the same work_dir triggers a
        # LIVE key migration at build time (the reference's
        # datamodel-driven pkey change, scenario-01 steps 301-307)
        key_specs: dict[str, Any] = {}
        kn = dm.get("key")
        if kn is not None:
            k_path = f"{d_path}.key"
            kn = _require_mapping(kn, k_path)
            if not kn:
                raise ConfigError(k_path, "declare at least one key column")
            for kname, kspec in kn.items():
                kp = f"{k_path}.{kname}"
                _validate_mapping_spec(kspec, kp, allow_secret=False)
                if isinstance(kspec, list):
                    raise ConfigError(
                        kp, "a key column maps to one column or one expr"
                    )
                key_specs[str(kname)] = _normalize_spec(kspec)
        reserved = {"conv_id", "turn_idx", "op", type_col, *passthrough,
                    *key_specs}
        types = []
        for name, spec in types_node.items():
            t_path = f"{d_path}.types.{name}"
            spec = _require_mapping(spec, t_path)
            _check_keys(spec, t_path, {"attrsmapping"}, {"allow_empty"})
            am = _require_mapping(spec["attrsmapping"], f"{t_path}.attrsmapping")
            if not am:
                raise ConfigError(f"{t_path}.attrsmapping", "must not be empty")
            for attr, m in am.items():
                a_path = f"{t_path}.attrsmapping.{attr}"
                if attr in reserved:
                    raise ConfigError(
                        a_path,
                        f"attribute name collides with reserved column "
                        f"{attr!r} (key/op/passthrough/type_col)",
                    )
                _validate_mapping_spec(m, a_path)
            types.append(
                {
                    "name": str(name),
                    "attrsmapping": {
                        k: _normalize_spec(v) for k, v in am.items()
                    },
                    "secret_attrs": sorted(
                        k for k, v in am.items() if _spec_is_secret(v)
                    ),
                    "allow_empty": _typed(
                        spec, t_path, "allow_empty", bool, default=False
                    ),
                }
            )
        out["datamodel"] = {
            "passthrough": passthrough,
            "type_col": type_col,
            "key": key_specs or None,
            "types": types,
        }

    # -- status ---------------------------------------------------------------
    st = root.get("status")
    if st is not None:
        s_path = "hermes-spark.status"
        st = _require_mapping(st, s_path)
        _check_keys(st, s_path, set(), {"path", "keep"})
        keep = _typed(st, s_path, "keep", int, default=256)
        if keep < 1:
            raise ConfigError(f"{s_path}.keep", f"must be >= 1, got {keep}")
        out["status"] = {
            "path": _typed(st, s_path, "path", str),
            "keep": keep,
        }

    if "curation" in root:
        out["curation"] = _load_curation(root["curation"])

    return out


# -- curation jobs ---------------------------------------------------------

# op name -> (required keys, optional keys); "op" itself is implicit
_CURATION_STEPS: dict[str, tuple[set, set]] = {
    "pii_scrub": (set(), set()),
    "exact_dedup": (set(), set()),
    "near_dedup": (
        set(),
        {"method", "threshold", "max_doc_freq", "n", "max_hamming", "store"},
    ),
    "decontaminate": ({"eval"}, {"n", "min_overlap_frac"}),
    "sample": ({"fraction"}, {"salt"}),
    "quality_filter": (
        set(),
        {"min_tokens", "max_tokens", "max_dup_line_frac",
         "max_top_token_frac", "min_distinct_ratio"},
    ),
    "chunk": (set(), {"size", "overlap"}),
    "pack": (set(), {"capacity", "shards"}),
}

_NEAR_DEDUP_METHODS = {"minhash", "simhash", "ngram"}


def _load_curation(node: Any) -> dict:
    """Validate the declarative curation-job section: an input corpus,
    an ordered list of curation steps (each mapping onto one operator
    from functions/curation.py / functions/dedup.py), and an optional
    output path.  Same contract as the pipeline section: a meaningless
    config fails at LOAD time with the dotted path named."""
    c_path = "hermes-spark.curation"
    cur = _require_mapping(node, c_path)
    _check_keys(
        cur, c_path, {"input", "steps"},
        {"id", "text", "output", "work_dir", "max_files_per_trigger",
         "schema"},
    )
    out = {
        "input": _typed(cur, c_path, "input", str),
        "output": _typed(cur, c_path, "output", str),
        "id": _typed(cur, c_path, "id", str, default="doc_id"),
        "text": _typed(cur, c_path, "text", str, default="text"),
        # DDL column list, e.g. "doc_id long, text string" — required
        # when input is a json:/csv: registry URL (those sources never
        # infer; parsed at build time, Spark-free here)
        "schema": _typed(cur, c_path, "schema", str),
        # stream mode (curate --stream): target table + checkpoint root
        "work_dir": _typed(cur, c_path, "work_dir", str),
        "max_files_per_trigger": _typed(
            cur, c_path, "max_files_per_trigger", int
        ),
    }
    if (
        out["max_files_per_trigger"] is not None
        and out["max_files_per_trigger"] < 1
    ):
        raise ConfigError(
            f"{c_path}.max_files_per_trigger",
            f"must be >= 1, got {out['max_files_per_trigger']}",
        )
    if out["input"] is None:
        raise ConfigError(f"{c_path}.input", "expected a path string")
    steps_node = cur["steps"]
    if not isinstance(steps_node, list) or not steps_node:
        raise ConfigError(f"{c_path}.steps", "expected a non-empty list")
    steps: list[dict] = []
    for i, s in enumerate(steps_node):
        sp = f"{c_path}.steps[{i}]"
        s = _require_mapping(s, sp)
        if "op" not in s:
            raise ConfigError(sp, "missing op:")
        op = _typed(s, sp, "op", str, enum=set(_CURATION_STEPS))
        required, optional = _CURATION_STEPS[op]
        _check_keys(s, sp, {"op", *required}, optional)
        step: dict = {"op": op}

        if op == "near_dedup":
            method = _typed(
                s, sp, "method", str, default="minhash",
                enum=_NEAR_DEDUP_METHODS,
            )
            step["method"] = method
            step["n"] = _typed(s, sp, "n", int, default=3)
            if step["n"] < 1:
                raise ConfigError(f"{sp}.n", f"must be >= 1, got {step['n']}")
            step["store"] = _typed(s, sp, "store", str)
            if step["store"] is not None and method != "minhash":
                raise ConfigError(
                    f"{sp}.store",
                    "the incremental signature store is minhash-only",
                )
            step["max_doc_freq"] = _typed(s, sp, "max_doc_freq", int)
            if step["max_doc_freq"] is not None and step["max_doc_freq"] < 1:
                # <= 0 would drop EVERY shingle and silently turn the
                # whole dedup step into a no-op
                raise ConfigError(
                    f"{sp}.max_doc_freq",
                    f"must be >= 1, got {step['max_doc_freq']}",
                )
            if method == "simhash":
                if "threshold" in s:
                    raise ConfigError(
                        f"{sp}.threshold",
                        "simhash is Hamming-based — use max_hamming:",
                    )
                step["max_hamming"] = _typed(
                    s, sp, "max_hamming", int, default=3
                )
                if step["max_hamming"] < 0:
                    raise ConfigError(
                        f"{sp}.max_hamming", "must be >= 0"
                    )
            else:
                if "max_hamming" in s:
                    raise ConfigError(
                        f"{sp}.max_hamming",
                        f"only meaningful with method: simhash, not {method}",
                    )
                step["threshold"] = _typed(
                    s, sp, "threshold", (int, float), default=0.8
                )
                if not 0.0 < float(step["threshold"]) <= 1.0:
                    raise ConfigError(
                        f"{sp}.threshold",
                        f"must be in (0, 1], got {step['threshold']}",
                    )
        elif op == "decontaminate":
            step["eval"] = _typed(s, sp, "eval", str)
            if step["eval"] is None:
                raise ConfigError(f"{sp}.eval", "expected a path string")
            step["n"] = _typed(s, sp, "n", int, default=3)
            if step["n"] < 1:
                raise ConfigError(f"{sp}.n", f"must be >= 1, got {step['n']}")
            step["min_overlap_frac"] = float(
                _typed(s, sp, "min_overlap_frac", (int, float), default=0.5)
            )
            if not 0.0 <= step["min_overlap_frac"] <= 1.0:
                raise ConfigError(
                    f"{sp}.min_overlap_frac", "must be in [0, 1]"
                )
        elif op == "sample":
            step["fraction"] = float(
                _typed(s, sp, "fraction", (int, float))
            )
            if not 0.0 <= step["fraction"] <= 1.0:
                raise ConfigError(
                    f"{sp}.fraction",
                    f"must be in [0, 1], got {step['fraction']}",
                )
            step["salt"] = _typed(s, sp, "salt", str, default="")
        elif op == "quality_filter":
            bounds = {
                k: s[k] for k in (
                    "min_tokens", "max_tokens", "max_dup_line_frac",
                    "max_top_token_frac", "min_distinct_ratio",
                ) if k in s
            }
            if not bounds:
                raise ConfigError(
                    sp, "quality_filter with no bounds filters nothing — "
                        "declare at least one",
                )
            for k, v in bounds.items():
                if not isinstance(v, (int, float)) or isinstance(v, bool):
                    raise ConfigError(f"{sp}.{k}", "expected a number")
                if k.endswith(("_frac", "_ratio")) and not 0.0 <= v <= 1.0:
                    raise ConfigError(f"{sp}.{k}", "must be in [0, 1]")
                if k.endswith("_tokens") and v < 0:
                    raise ConfigError(f"{sp}.{k}", "must be >= 0")
            step["bounds"] = {k: float(v) for k, v in bounds.items()}
        elif op == "chunk":
            step["size"] = _typed(s, sp, "size", int, default=128)
            step["overlap"] = _typed(s, sp, "overlap", int, default=32)
            if not 0 <= step["overlap"] < step["size"]:
                raise ConfigError(
                    sp,
                    f"need 0 <= overlap < size, got "
                    f"{step['overlap']}/{step['size']}",
                )
            followers = [
                _require_mapping(x, sp).get("op")
                for x in steps_node[i + 1:]
            ]
            if any(f != "pack" for f in followers):
                raise ConfigError(
                    sp, "chunk rewrites the row shape — only pack may "
                        "follow it",
                )
        elif op == "pack":
            step["capacity"] = _typed(s, sp, "capacity", int, default=1024)
            if step["capacity"] < 1:
                raise ConfigError(
                    f"{sp}.capacity", f"must be >= 1, got {step['capacity']}"
                )
            step["shards"] = _typed(s, sp, "shards", int, default=64)
            if step["shards"] < 1:
                raise ConfigError(
                    f"{sp}.shards", f"must be >= 1, got {step['shards']}"
                )
            if i != len(steps_node) - 1:
                raise ConfigError(
                    sp, "pack must be the last step"
                )
        steps.append(step)
    # a store-backed dedup COMMITS survivors' signatures — content a
    # later filter then removes would still block future near-copies
    # (silent corpus loss).  Require the store step to run after every
    # doc-dropping step.
    dropping = {
        "exact_dedup", "near_dedup", "decontaminate", "sample",
        "quality_filter",
    }
    for i, step in enumerate(steps):
        if step["op"] == "near_dedup" and step.get("store"):
            later = [s["op"] for s in steps[i + 1:] if s["op"] in dropping]
            if later:
                raise ConfigError(
                    f"{c_path}.steps[{i}].store",
                    f"a store-backed near_dedup permanently records its "
                    f"survivors — move it AFTER {sorted(set(later))}, or "
                    f"docs those steps drop would still block future "
                    f"near-copies",
                )
    out["steps"] = steps
    return out


# -- construction ---------------------------------------------------------------


def _compile_validator(spec: dict, probe: DataFrame, path: str):
    if "name" in spec:
        return VALIDATORS[spec["name"]]
    expr = spec["expr"]
    try:
        probe.select(F.expr(expr))
    except Exception as e:
        raise ConfigError(f"{path}.expr", f"does not analyze: {_first_line(e)}") from e
    return lambda df: F.expr(expr)


def _first_line(e: Exception) -> str:
    return str(e).strip().splitlines()[0] if str(e).strip() else type(e).__name__


def _reconcile_target(pipe, key_specs: dict | None, secret_attrs: set) -> None:
    """Reconcile a re-declared datamodel against the DISK truth of an
    existing target — the reference server's per-cycle schema-registry
    diff (hermesserver.py:340-443) run once at build time:

    1. **Schema diff** — a changed column set publishes an auditable
       ``dataschema`` event (old-era sibling readers replay the adds);
       removed attributes narrow the VIEW but their values stay on
       disk until purged, exactly the reference's remove-attribute
       semantics (scenario-01 steps 206/210).
    2. **Live pkey migration** — a changed declared key re-keys every
       live row and retained tombstone in place (int↔tuple both
       directions, scenario-01 steps 301-307); the batch-id ledger
       survives, so pre-migration replays stay no-ops.
    3. **Secret purge** — attrs previously declared ``secret: true``
       that vanished from the datamodel are physically destroyed
       (column purge + snapshot vacuum), never left readable in old
       snapshots (reference hermesserver.py:411-429).

    Tables created before create-record logging (no disk truth) are
    left untouched."""
    tgt = pipe.target
    # the DECLARED truth comes from the config (pipe.target_schema /
    # target_key), never from tgt.schema: the table constructor replays
    # logged dataschema events on open, so tgt.schema already mixes in
    # disk history — diffing it against disk would always read "equal"
    declared_schema = T.StructType(list(pipe.target_schema.fields))
    declared_key = list(pipe.target_key)
    has_data = tgt.current_version() is not None
    disk_schema = tgt.logged_schema()
    disk_key = tgt.logged_key()

    # -- 0. empty table: a redeclaration IS the new disk truth --------
    # no data ⇒ nothing to migrate or audit; but the create record must
    # follow the declaration or the first build-after-data would run a
    # bogus migration against a key that never held a row
    if not has_data:
        changed_key = disk_key is not None and disk_key != declared_key
        changed_schema = disk_schema is not None and [
            (f.name, f.dataType.simpleString()) for f in disk_schema.fields
        ] != [
            (f.name, f.dataType.simpleString()) for f in declared_schema.fields
        ]
        if changed_key or changed_schema:
            tgt._append_record(
                {
                    "kind": "create",
                    "info": {
                        "key": declared_key,
                        "schema": [
                            [f.name, f.dataType.simpleString()]
                            for f in declared_schema.fields
                        ],
                    },
                }
            )
        if sorted(secret_attrs) != sorted(_logged_secrets(tgt)):
            tgt._append_record(
                {"kind": "secrets", "info": {"attrs": sorted(secret_attrs)}}
            )
        return

    # -- 1. schema diff → auditable dataschema event ------------------
    if disk_schema is not None:
        tgt.schema = disk_schema
        info = _pending_schema_diff(tgt, declared_schema)
        if info is not None:
            tgt.evolve(declared_schema)
        # evolve keeps removed columns visible (non-breaking for
        # mid-stream consumers); the declarative layer narrows the
        # view to the declared set — disk bytes persist until purge
        tgt.schema = declared_schema

    # -- 2. declared-key change → live migration ----------------------
    if disk_key is not None and disk_key != declared_key:
        if pipe.dlq is not None and not pipe.dlq.known_empty():
            raise ConfigError(
                "hermes-spark.datamodel.key",
                "drain the error queue before a pkey migration — queued "
                "rows are keyed by the old pkey",
            )
        declared_names = {f.name for f in declared_schema.fields}
        extra = [
            f for f in (disk_schema.fields if disk_schema else [])
            if f.name in disk_key and f.name not in declared_names
        ]
        missing = [
            k for k in disk_key
            if k not in declared_names and k not in {f.name for f in extra}
        ]
        if missing:
            raise ConfigError(
                "hermes-spark.datamodel.key",
                f"cannot migrate: old key column(s) {missing} have no "
                "recorded type (table predates schema logging)",
            )
        # read the old generation grouped by the OLD key, with the old
        # key columns temporarily widened back into the schema
        tgt.schema = T.StructType(list(declared_schema.fields) + extra)
        tgt.key = list(disk_key)
        out_fields = [f.name for f in declared_schema.fields]

        def _migrate(df):
            out = df
            for kname, kspec in (key_specs or {}).items():
                out = out.withColumn(kname, _spec_col(kspec))
            return out.select(*out_fields)

        tgt.migrate_key(declared_key, _migrate, declared_schema)

    # -- 3. removed secret attrs → physical purge ---------------------
    prev_secrets = _logged_secrets(tgt)
    declared_names = {f.name for f in declared_schema.fields}
    gone = sorted(a for a in prev_secrets if a not in declared_names)
    if gone:
        tgt.purge_columns(gone)
    if sorted(secret_attrs) != sorted(prev_secrets):
        tgt._append_record(
            {"kind": "secrets", "info": {"attrs": sorted(secret_attrs)}}
        )


def _logged_secrets(tgt) -> list[str]:
    """The secret-attr set the log currently declares (last wins)."""
    attrs: list[str] = []
    for r in tgt._read_log():
        if r.get("kind") == "secrets":
            attrs = (r.get("info") or {}).get("attrs", [])
    return attrs


def _pending_schema_diff(tgt, declared_schema) -> dict | None:
    """The dataschema event a reconcile WOULD publish, or None when it
    would be a duplicate.  Removed columns stay in ``logged_schema``
    until purged (their bytes persist on disk), so without this check
    every rebuild over the same work_dir would republish the identical
    removal event — once is the audit, twice is churn."""
    from hermes_spark.operators.events import diff_schemas

    diff = diff_schemas(tgt.schema, declared_schema)
    if diff.empty:
        return None
    by_name = {f.name: f for f in declared_schema.fields}
    info = {
        "added": [
            {"name": c, "type": by_name[c].dataType.simpleString()}
            for c in diff.added
        ],
        "removed": diff.removed,
        "retyped": [list(t) for t in diff.retyped],
    }
    events = tgt.dataschema_events()
    if events and (events[-1].get("info") or {}) == info:
        return None
    return info


def build_pipeline(spark: SparkSession, config, **overrides):
    """Construct a ready-to-run pipeline from a config (path, YAML
    text, or mapping).  Keyword overrides replace pipeline-section
    values (e.g. ``work_dir=...`` in tests).

    Every expression in the config is ANALYZED here against an empty
    frame of the engine's schemas — a typo'd column or bad SQL fails
    at build time with its config path, never mid-stream.  When a
    datamodel is declared, the fan-out runs inside the sink (reference
    clients/datamodel.py:497-621) and the target schema is derived by
    analyzing the fan-out against the empty frame, so the MERGE
    schema, the DLQ payload schema, and the per-objtype counters all
    agree without a row of data."""
    from hermes_spark.plans.mapping import (
        LocalTypeSpec,
        fanout_events,
        union_fanout,
    )
    from hermes_spark.schema import CHANGE_EVENT_SCHEMA
    from hermes_spark.streaming.cdc_join import JoinCdcPipeline
    from hermes_spark.streaming.pipeline import CdcPipeline

    cfg = load_config(config)
    if cfg["pipeline"] is None:
        raise ConfigError(
            "hermes-spark.pipeline",
            "this config declares only curation: — build the job with "
            "hermes_spark.jobs.run_curation (CLI verb: curate)",
        )
    pcfg = dict(cfg["pipeline"])
    for k, v in overrides.items():
        if k not in pcfg:
            raise ConfigError(f"override.{k}", "not a pipeline setting")
        pcfg[k] = v

    mode = pcfg.pop("mode")
    probe = spark.createDataFrame([], CHANGE_EVENT_SCHEMA)

    transform = None
    type_col = None
    type_names: tuple[str, ...] | None = None
    target_schema = None
    key_specs: dict | None = None
    secret_attrs: set[str] = set()
    dm = cfg.get("datamodel")
    if dm is not None:
        types = []
        for t in dm["types"]:
            secret_attrs.update(t["secret_attrs"])
            for attr, m in t["attrsmapping"].items():
                if isinstance(m, str):
                    cols = [m]
                elif isinstance(m, list):
                    cols = m
                else:
                    a_path = (
                        f"hermes-spark.datamodel.types.{t['name']}"
                        f".attrsmapping.{attr}"
                    )
                    try:
                        probe.select(F.expr(m["expr"]))
                    except Exception as e:
                        raise ConfigError(
                            f"{a_path}.expr", f"does not analyze: {_first_line(e)}"
                        ) from e
                    cols = []
                known = {f.name for f in CHANGE_EVENT_SCHEMA.fields}
                for c in cols:
                    if c not in known:
                        raise ConfigError(
                            f"hermes-spark.datamodel.types.{t['name']}"
                            f".attrsmapping.{attr}",
                            f"unknown change-event column {c!r} — "
                            f"available: {sorted(known)}",
                        )
            types.append(
                LocalTypeSpec(
                    name=t["name"],
                    mapping=t["attrsmapping"],
                    allow_empty=t["allow_empty"],
                )
            )
        passthrough = tuple(dm["passthrough"])
        type_col = dm["type_col"]
        type_names = tuple(t.name for t in types)
        key_specs = dm.get("key")
        if key_specs:
            # declared key exprs must analyze over the change-event
            # columns (conv_id/turn_idx/payload survive the fan-out)
            for kname, kspec in key_specs.items():
                if isinstance(kspec, str):
                    continue
                kp = f"hermes-spark.datamodel.key.{kname}"
                try:
                    probe.select(F.expr(kspec["expr"]))
                except Exception as e:
                    raise ConfigError(
                        f"{kp}.expr", f"does not analyze: {_first_line(e)}"
                    ) from e

        def transform(
            df, _types=types, _pt=passthrough, _tc=type_col, _ks=key_specs
        ):
            out = union_fanout(
                fanout_events(
                    df, _types, key_cols=("conv_id", "turn_idx"),
                    passthrough=_pt,
                ),
                type_col=_tc,
            )
            for kname, kspec in (_ks or {}).items():
                out = out.withColumn(kname, _spec_col(kspec))
            return out

        # derive the target schema from the ANALYZED fan-out plan: the
        # MERGE column list, DLQ payload and evolution all follow it.
        # The type column STAYS — it joins the MERGE key below (sibling
        # types carry the same (conv_id, turn_idx) and must not
        # overwrite each other, reference clients/datamodel.py:497-621)
        target_schema = transform(probe).schema

    validator = None
    if pcfg["validator"] is not None:
        vprobe = transform(probe) if transform is not None else probe
        validator = _compile_validator(
            pcfg["validator"], vprobe, "hermes-spark.pipeline.validator"
        )

    common = dict(
        spark=spark,
        source_dir=pcfg["source"],
        work_dir=pcfg["work_dir"],
        max_files_per_trigger=pcfg["max_files_per_trigger"],
        validator=validator,
        retry_every=pcfg["retry_every"],
        fk_map=pcfg["fk_map"],
        foreignkeys_policy=pcfg["foreignkeys_policy"],
        maintain_every=pcfg["maintain_every"],
    )
    # an override can set n_buckets on a join config
    _refuse_join_n_buckets(mode, pcfg["n_buckets"])
    if mode == "join":
        if pcfg["tombstone_mode"] != "drop":
            raise ConfigError(
                "hermes-spark.pipeline.tombstone.mode",
                "retain (trashbin) requires pipeline.mode: stateful — "
                "the join-mode state table already retains tombstones "
                "as state memory",
            )
        pipe = JoinCdcPipeline(**common)
    else:
        base_key = (
            tuple(key_specs) if key_specs else ("conv_id", "turn_idx")
        )
        pipe = CdcPipeline(
            # unset: derived and pinned when the query first starts
            n_buckets=pcfg["n_buckets"],
            watermark=pcfg["watermark"],
            transform=transform,
            type_col=type_col,
            type_names=type_names,
            target_schema=target_schema,
            target_key=(
                (type_col, *base_key) if type_col is not None else base_key
            ),
            tombstone_mode=pcfg["tombstone_mode"],
            tombstone_retention=pcfg["tombstone_retention"],
            **common,
        )
        if dm is not None:
            # only a declared datamodel OWNS the target schema/key —
            # plain pipelines evolve via the sink's mid-stream
            # auto-evolution and must not be narrowed back here
            _reconcile_target(pipe, key_specs, secret_attrs)

    st = cfg.get("status")
    if st is not None:
        from hermes_spark.streaming.status import (
            PipelineStatus,
            PipelineStatusListener,
        )

        # listeners are SESSION-global: the declarative workflow
        # rebuilds the pipeline over the same work_dir (re-declared
        # datamodel → build_pipeline again), and without eviction each
        # rebuild would stack another live listener — every trigger
        # logged N times and stale listeners writing to dead paths.
        # One listener per (session, work_dir): evict the predecessor.
        reg = _STATUS_LISTENERS.setdefault(spark, {})
        old = reg.pop(pcfg["work_dir"], None)
        if old is not None:
            spark.streams.removeListener(old)
        listener = PipelineStatusListener(path=st["path"], keep=st["keep"])
        spark.streams.addListener(listener)
        reg[pcfg["work_dir"]] = listener
        pipe.status_api = PipelineStatus(pipe, listener)

    return pipe
