"""Model registry roundtrip + broadcast into the streaming forecast, and
magic-byte/gzip validation (bytes form + distributed binaryFile form)."""

import gzip

import pytest

from big_data_crypto_sentiment_spark.model_registry import (
    broadcast_bundle,
    load_bundle,
    phi_by_symbol,
    save_bundle,
    train_bundle,
)
from big_data_crypto_sentiment_spark.sources.validation import (
    sniff,
    validate_dir,
    validate_payload,
)

SF_DIR = "/root/testdata/sf0.01"


def test_bundle_train_save_load_roundtrip(spark, tmp_path):
    bundle = train_bundle(spark, SF_DIR)
    assert bundle["models"], "trainer produced no models"
    path = str(tmp_path / "models" / "ar1.json")
    save_bundle(bundle, path)
    back = load_bundle(path)
    assert back == bundle
    phis = phi_by_symbol(back)
    assert all(isinstance(v, float) for v in phis.values())


def test_bundle_version_gate(tmp_path):
    path = str(tmp_path / "bad.json")
    save_bundle({"version": 999, "models": {}}, path)
    with pytest.raises(ValueError, match="version"):
        load_bundle(path)


def test_broadcast_bundle_reaches_stateful_forecast(spark, tmp_path):
    """S17 end to end: batch trainer → bundle → broadcast → per-symbol
    phi consumed by the streaming stateful operator."""
    import pandas as pd
    from big_data_crypto_sentiment_spark.streaming.stateful import (
        make_forecast_fn,
    )

    bundle = {"version": 1, "models": {"ETH": {"phi": 0.5, "mu": 0.0,
                                               "n_train": 10, "mae": 0.0,
                                               "mape": 0.0}}}
    bc = broadcast_bundle(spark, phi_by_symbol(bundle))

    class FakeState:
        exists = False
        def update(self, v): self.v = v

    fn = make_forecast_fn(phi=0.9, phi_map=bc)
    pdf = pd.DataFrame({"event_time": pd.date_range("2024-01-01", periods=2,
                                                    freq="15s"),
                        "price": [10.0, 20.0]})
    (out,) = list(fn(("ETH",), iter([pdf]), FakeState()))
    # after 2 ticks: mean 15, last 20 → forecast = 15 + 0.5·(20−15) = 17.5
    assert out["next_price_forecast"].iloc[-1] == pytest.approx(17.5)
    # unknown symbol falls back to the default phi
    (out2,) = list(fn(("SOL",), iter([pdf.copy()]), FakeState()))
    assert out2["next_price_forecast"].iloc[-1] == pytest.approx(15 + 0.9 * 5)


def test_sniff_and_gzip_revalidation():
    avro = b"Obj\x01" + b"rest"
    assert sniff(avro) == "avro"
    assert validate_payload(gzip.compress(avro)) == ("avro", True)
    assert validate_payload(gzip.compress(b"garbage")) == ("unknown", False)
    assert validate_payload(b"\x1f\x8btruncated") == ("gzip", False)
    assert validate_payload(b"PAR1xxxx") == ("parquet", True)
    assert validate_payload(b"random") == ("unknown", False)


def test_validate_dir_distributed(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "good.avro").write_bytes(b"Obj\x01data")
    (d / "good.gz").write_bytes(gzip.compress(b"Obj\x01data"))
    (d / "bad.bin").write_bytes(b"nonsense")
    out = {r.path.split("/")[-1]: r
           for r in validate_dir(spark, str(d)).collect()}
    assert out["good.avro"].format == "avro" and out["good.avro"].valid
    assert out["good.gz"].format == "avro" and out["good.gz"].valid
    assert not out["bad.bin"].valid


def test_clear_session_caches_evicts_and_unpersists(spark, tmp_path,
                                                    monkeypatch):
    """clear_session_caches empties the one session-artifact store —
    the fixture-swap eviction hook for single-process multi-SF harness
    loops — across all four artifact types: it unpersists a persisted
    DataFrame and a plan-keyed frame (the span grams), drops a driver
    tuple (the unigram model: the next call rebuilds it), and removes
    this session's warehouse dir from disk, leaving any other
    session's dir alone. The dir is also removed at interpreter exit."""
    import os

    from pyspark import StorageLevel

    from big_data_crypto_sentiment_spark.queries import (
        _util,
        clear_session_caches,
        layout,
    )
    from big_data_crypto_sentiment_spark.queries import ml as _ml
    from big_data_crypto_sentiment_spark.queries._util import table
    from big_data_crypto_sentiment_spark.queries.cleaning import (
        unigram_model,
    )
    from big_data_crypto_sentiment_spark.queries.dedup import _span_grams
    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    at_exit = []
    monkeypatch.setattr(layout.atexit, "register",
                        lambda fn, *a, **kw: at_exit.append((fn, a, kw)))
    other = tmp_path / "events_other-session_sf0.001_1_1"
    other.mkdir()

    labeled = _ml._labeled_docs(spark, sf)
    docs = table(spark, sf, "documents").select("doc_id", "text")
    grams = _span_grams(docs)
    model = unigram_model(docs, cache_key=("unigram_docs", sf))
    assert unigram_model(docs, cache_key=("unigram_docs", sf)) is model
    wh = layout.events_warehouse(spark, sf)
    assert os.path.isdir(wh) and len(at_exit) == 1
    assert labeled.storageLevel != StorageLevel.NONE
    assert grams.storageLevel != StorageLevel.NONE

    assert clear_session_caches() >= 4
    assert _util._ARTIFACTS == {}
    assert labeled.storageLevel == StorageLevel.NONE
    assert grams.storageLevel == StorageLevel.NONE
    assert not os.path.exists(wh) and other.is_dir()
    assert unigram_model(docs, cache_key=("unigram_docs", sf)) is not model

    # interpreter exit: the registered hook removes a live dir too
    wh = layout.events_warehouse(spark, sf)
    assert os.path.isdir(wh) and len(at_exit) == 2
    fn, a, kw = at_exit[-1]
    fn(*a, **kw)
    assert not os.path.exists(wh) and other.is_dir()
    clear_session_caches()


def test_no_query_module_holds_a_cache_dict():
    """Session artifacts live in ONE store, `_util._ARTIFACTS`, which
    clear_session_caches() empties — so nothing can escape eviction.
    No queries/ module may bind another module-level cache: an empty
    dict/set/list (a cache starts empty; constant tables do not), a
    name mentioning CACHE, or an lru_cache/cache-decorated function.
    Checked on the source, so the result cannot depend on which
    queries earlier tests ran."""
    import ast
    import pathlib

    from big_data_crypto_sentiment_spark import queries as Q
    empty_ctors = {"dict", "set", "list", "defaultdict", "OrderedDict"}
    offenders = []
    for path in sorted(pathlib.Path(Q.__file__).parent.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for dec in node.decorator_list:
                    f = dec.func if isinstance(dec, ast.Call) else dec
                    name = getattr(f, "id", getattr(f, "attr", ""))
                    if name in ("lru_cache", "cache"):
                        offenders.append(f"{path.name}:{node.name}")
                continue
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value:
                targets, value = [node.target], node.value
            else:
                continue
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            empty = (isinstance(value, (ast.Dict, ast.Set, ast.List))
                     and not getattr(value, "keys", getattr(
                         value, "elts", None))) or (
                isinstance(value, ast.Call) and not value.args
                and getattr(value.func, "id", "") in empty_ctors)
            for n in names:
                if (empty or "CACHE" in n.upper()) and not (
                        path.name == "_util.py" and n == "_ARTIFACTS"):
                    offenders.append(f"{path.name}:{n}")
    assert not offenders, offenders


def test_every_package_def_is_referenced():
    """Every top-level def or class in the package must be named in
    some tracked .py file other than by its own definition: a module's
    own callers, another module, a registry dict, a test or a tool all
    count. A function nothing names is dead code that still has to be
    read and kept green, so it is deleted instead. Checked on the
    source, as identifier tokens (f-string SQL builders count)."""
    import ast
    import collections
    import pathlib
    import re
    import subprocess

    import big_data_crypto_sentiment_spark as pkg
    root = pathlib.Path(pkg.__file__).parent.parent
    try:
        files = [root / f for f in subprocess.run(
            ["git", "ls-files", "*.py"], cwd=root, check=True,
            capture_output=True, text=True).stdout.split()]
    except (OSError, subprocess.CalledProcessError):  # not a checkout
        files = sorted(root.rglob("*.py"))
    names = collections.Counter()
    defs = collections.Counter()
    pkg_dir = pathlib.Path(pkg.__file__).parent
    for path in files:
        src = path.read_text()
        names.update(re.findall(r"[A-Za-z_]\w*", src))
        if pkg_dir in path.parents:
            defs.update(node.name for node in ast.parse(src).body
                        if isinstance(node, (ast.FunctionDef,
                                             ast.AsyncFunctionDef,
                                             ast.ClassDef)))
    unreferenced = sorted(n for n, k in defs.items() if names[n] <= k)
    assert not unreferenced, unreferenced


def test_one_sentiment_lexicon():
    """The sentiment lexicon has one definition: POS_WORDS and NEG_WORDS
    are each bound once in the package, in queries/ml.py, and no package
    source types a lexicon word inside a regex literal (word patterns
    are built from the word lists by word_count and its SQL twin).
    Checked on the source, not on the generated oracle SQL."""
    import ast
    import pathlib
    import re

    import big_data_crypto_sentiment_spark as pkg
    from big_data_crypto_sentiment_spark.queries.ml import (
        NEG_WORDS,
        POS_WORDS,
    )
    root = pathlib.Path(pkg.__file__).parent
    typed = re.compile(r"\\{1,2}b(?:%s)\\{1,2}b"
                       % "|".join(POS_WORDS + NEG_WORDS))
    binds, typed_lines = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        binds += [(rel, n.id) for n in ast.walk(ast.parse(src))
                  if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                  and n.id in ("POS_WORDS", "NEG_WORDS")]
        typed_lines += [f"{rel}:{i}: {line.strip()}"
                        for i, line in enumerate(src.splitlines(), 1)
                        if typed.search(line)]
    assert sorted(binds) == [("queries/ml.py", "NEG_WORDS"),
                             ("queries/ml.py", "POS_WORDS")], binds
    assert not typed_lines, typed_lines
