"""API census: operators take the user's functions and data, not
execution policy. Where an intermediate is stored (checkpoint kind),
whether a node-sized relation is broadcast, and which physical path
runs are the runtime's decisions (checkpoint.materialize, the graph
loops' size rule), so no callable in the package may grow these
options back."""

import importlib
import inspect
import pkgutil


import bigslice_spark

# Execution-policy options the operators used to take; each is now a
# decision the code makes (see CHANGES.md).
REMOVED_OPTIONS = {"reliable", "broadcast_labels", "broadcast_ranks",
                   "vectorized", "persist_tokens", "broadcast_eval",
                   "broadcast_other", "pure", "broadcast_reference",
                   "assign_method"}


def _callables():
    """(qualified name, function) for every function and method defined
    in a bigslice_spark module, private helpers included."""
    mods = [bigslice_spark] + [
        importlib.import_module(m.name) for m in pkgutil.walk_packages(
            bigslice_spark.__path__, "bigslice_spark.")]
    for mod in mods:
        for name, obj in vars(mod).items():
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                yield f"{mod.__name__}.{name}", obj
            elif inspect.isclass(obj):
                for attr, fn in vars(obj).items():
                    if inspect.isfunction(fn):
                        yield f"{mod.__name__}.{name}.{attr}", fn


def test_no_callable_takes_a_removed_execution_option():
    found = list(_callables())
    names = {q for q, _ in found}
    # the census really walks the operator modules
    assert "bigslice_spark.checkpoint.materialize" in names
    assert "bigslice_spark.operators.graph.pagerank" in names
    assert "bigslice_spark.operators.dedup._set_sim_pairs" in names
    bad = sorted((q, p) for q, fn in found
                 for p in inspect.signature(fn).parameters
                 if p in REMOVED_OPTIONS)
    assert bad == [], bad


def test_nearest_centroid_operators_take_no_method():
    """One distance fold: the vector operators no longer pick between
    an unrolled expression-text argmin and the broadcast fold.
    (timeseries.ewma_last's ``method`` picks a numeric domain and is
    not a census name, so these four are checked by name.)"""
    from bigslice_spark.operators import clustering, pq
    for fn in (clustering.kmeans_assign, clustering.kmeans_means,
               clustering.kmeans_train, pq.pq_encode):
        assert "method" not in inspect.signature(fn).parameters, fn
    assert not hasattr(clustering, "_argmin_expr")
    assert not hasattr(clustering, "_CODEGEN_TERM_LIMIT")
    assert not hasattr(pq, "_code_expr")


def test_cosine_kernel_takes_no_dim():
    """The dot-product fold never read ``dim``, so the shared prep, the
    fold, its public re-export and the exact top-k take none (and
    brute_force_topk runs no dim probe)."""
    from bigslice_spark.functions import dot_product_wide
    from bigslice_spark.operators import similarity
    for fn in (similarity._dot_wide, similarity._prep, dot_product_wide,
               similarity.brute_force_topk):
        assert "dim" not in inspect.signature(fn).parameters, fn


def test_per_row_python_stages_go_through_flatmap_rows():
    """One per-row Python stage: operators and sources reach Arrow
    batches through slice.flatmap_rows. ``mapInPandas(`` is left only
    where a stage works on a whole batch or partition: the Misra-Gries
    partial, the Arrow IPC reader's whole-file frames and the WARC
    sink's per-partition writer."""
    import re
    from pathlib import Path

    pkg = Path(bigslice_spark.__file__).parent
    found = []
    for sub in ("operators", "sources"):
        for path in sorted((pkg / sub).glob("*.py")):
            fn = None
            for line in path.read_text().splitlines():
                m = re.match(r"def (\w+)\(", line)
                if m:
                    fn = m.group(1)
                if "mapInPandas(" in line:
                    found.append((f"{sub}/{path.name}", fn))
    assert found == [("operators/sketch.py", "heavy_hitters"),
                     ("sources/__init__.py", "arrow_ipc_reader"),
                     ("sources/warc.py", "warc_sink")], found


def test_merged_and_moved_paths_stay_gone():
    """One grep pipeline, one Naive Bayes path, one AES: the second
    copies do not come back (the clean-room AES is a test reference,
    tests/aes_reference.py)."""
    from bigslice_spark.operators import classify, pdfcrypt, trigram
    assert not hasattr(trigram, "substring_candidates")
    assert not hasattr(classify, "nb_self_classify")
    assert "doc_words" not in inspect.signature(
        classify.nb_classify).parameters
    assert not hasattr(pdfcrypt, "_cbc_encrypt_py")
