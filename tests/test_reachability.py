"""Every kgp module, and every kgp definition, is reached from a
pipeline, a gate or a benchmark.

The closure is computed from the AST alone (no import runs, no Spark
session starts): start at the two pipelines, the gate entry point
(`__spark_entry__.py`), `bench.py`, `bench/` and the non-test files of
`perfbench/`, and follow every `import kgp.x`, `from kgp.x import ...`
and `from kgp import a, b` — module level or inside a function — through
the kgp modules reached. A kgp module outside the closure is code that
only its own tests run; delete it or wire it into a stage.

Definitions are followed by name. A top-level `def` or `class` of a kgp
module is reached when its name — as a name, an attribute, an import
alias or an identifier inside a string — appears in reached code:
the root files, every module-level statement and decorator of every kgp
module, and the bodies of reached definitions, iterated to a fixed
point. Names are not resolved to modules, so a collision can only make
a definition look reached, never unreached.

Module-level assignments of every kgp module are checked the same way:
a name a module assigns at top level is read when reached code loads it
(an assignment target is not a read).

Two lists name the unreached definitions that stay, and the bodies of
both count as reached. `ORACLES` holds reference implementations that a
named test compares a reached operator against. `TEST_ONLY` holds the
definitions that only their own tests still use; each leaves with its
tests, and an entry that gets reached or loses its last test fails here,
so the list holds no stale entry.
"""
import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KGP = ROOT / "kgp"

# Reference implementations that a test compares a reached operator
# against: each stays although no pipeline calls it.
# (module, definition) -> the test that compares
ORACLES = {
    ("bpe", "learn_bpe"):
        "tests/test_bpe.py::test_distributed_fit_matches_local",
    ("contextpatterns", "extract_patterns_local"):
        "tests/test_contextpatterns.py::test_stage_matches_local",
    ("datasetstats", "nominal_stats"):
        "tests/test_datasetstats.py::test_dataset_statistics_matches_twin_on_events",
    ("datasetstats", "numeric_stats"):
        "tests/test_datasetstats.py::test_dataset_statistics_matches_twin_on_events",
    ("evaluate", "ThresholdAnalyzerLocal"):
        "tests/test_evaluate.py::test_threshold_analysis_stage_matches_twin",
    ("featuretransform", "us_week_of_year"):
        "tests/test_featuretransform.py::test_us_week_col_matches_twin",
    ("featuretransform", "weeks_difference"):
        "tests/test_featuretransform.py::test_date_difference_closed_form_vs_walk",
    ("featuretransform", "work_days_difference"):
        "tests/test_featuretransform.py::test_date_difference_closed_form_vs_walk",
    ("feeds", "ind_hist_interval_local"):
        "tests/test_feeds.py::test_ind_hist_stage_matches_local",
    ("feeds", "ind_hist_model_local"):
        "tests/test_feeds.py::test_ind_hist_ttl_stage",
    ("feeds", "post_rate_intervals_local"):
        "tests/test_feeds.py::test_post_rate_stage_matches_local",
    ("feeds", "predicted_in_window_local"):
        "tests/test_feeds.py::test_ind_hist_ttl_stage",
    ("geotext", "geotext_read_local"):
        "tests/test_geotext.py::test_stage_matches_twin",
    ("imagehash", "hamming_distance"):
        "tests/test_imagehash.py::test_phash_dup_pairs_matches_bruteforce",
    ("informativeness", "fit_frequencies"):
        "tests/test_informativeness.py::test_fit_stage_matches_twin",
    ("informativeness", "normalize_frequencies"):
        "tests/test_informativeness.py::test_fit_stage_matches_twin",
    ("intervals", "parse_time_interval"):
        "tests/test_intervals.py::test_column_twin_matches_pure",
    ("mathstats", "average_precision"):
        "tests/test_mathstats.py::test_ap_curve_stage_matches_twin",
    ("nbsvm", "nb_ratio_local"):
        "tests/test_nbsvm.py::test_distributed_ratios_match_twin",
    ("segmenter", "fp_jaccard"):
        "tests/test_segmenter.py::test_template_pairs_and_segments",
    ("segmenter", "fp_similarity"):
        "tests/test_segmenter.py::test_template_pairs_and_segments",
    ("synonyms", "parse_open_thesaurus"):
        "tests/test_synonyms.py::test_stage_matches_twin_on_demo_and_hostile",
    ("synonyms", "thesaurus_pairs"):
        "tests/test_synonyms.py::test_stage_matches_twin_on_demo_and_hostile",
    ("textvector", "TermCorpusLocal"):
        "tests/test_textvector.py::test_vectorize_stage_parity",
    ("textvector", "simple_tokens"):
        "tests/test_textvector.py::test_vectorize_stage_parity",
    ("textvector", "tfidf_similarity"):
        "tests/test_textvector.py::test_tfidf_pair_sim_stage_parity",
    ("textvector", "vectorize_text"):
        "tests/test_textvector.py::test_vectorize_stage_parity",
    ("utm", "to_utm"):
        "tests/test_utm.py::test_column_twin_matches_pure",
    ("webgraph", "extract_urls"):
        "tests/test_webgraph.py::test_url_column_twins_match_python",
    ("wikicasedict", "mine_case_dictionary_local"):
        "tests/test_wikicasedict.py::test_stage_matches_local",
    ("wikidataset", "build_page_dictionary"):
        "tests/test_wikidataset.py::test_stage_matches_local",
    ("wikidump", "internal_links"):
        "tests/test_wikidump.py::test_stage_matches_twin",
}

# Definitions that only their own tests use: module -> names. Each is
# deleted together with the tests that exercise it.
TEST_ONLY = {
    "bovw": "build_vocabulary",
    "bpe": "word_counts",
    "conll": "evaluate_annotations parse_column",
    "contentdates": "apply_trained_rater rate_content_dates",
    "contextpatterns": "html_to_readable_text html_to_readable_text_col",
    "cooccurrence": "CooccurrenceMatrixLocal",
    "datasetops": "with_feature_as_category",
    "datasetstats": "nominal_value_counts",
    "dateparse": (
        "find_relative_date format_duration get_2_digits "
        "get_datetime get_difference get_time_string parse_date_auto"),
    "datestack": (
        "best_pub_date_html5 cluster_dates count_dates "
        "filter_exactest http_date_rates http_dates "
        "reference_date_rate"),
    "encode": "frequency_encode label_encode",
    "ensemble": (
        "aggregate_averaged aggregate_dependency aggregate_one_vote "
        "aggregate_unanimous dependency_matrix multilabel_result"),
    "entity_preprocess": "is_within_sentence",
    "evaluate": (
        "assign_folds assign_folds_by_id cross_validate "
        "cross_validate_by_id log_loss reliability_diagram "
        "train_test_split"),
    "featuresel": "apply_mdl_bins discretize fit_mdl_bins",
    "featuretransform": (
        "apply_domain_reducer binarize_values "
        "booleans_to_numeric combine_features "
        "drop_nan_infinite fit_domain_reducer modulo_filter "
        "relativize_values rename_features replace_nulls "
        "to_nominal zero_nan_infinite"),
    "feeds": "fix_interval item_hash_col",
    "geotext": "sha1_latin1",
    "heatgrid": (
        "heat_grid_matrix palette_color render_heat_grid "
        "transparency_color"),
    "imagefeatures": (
        "bounds_features color_features detect_edges "
        "edginess_features frequency_features "
        "grid_similarity_features local_features "
        "statistics_features"),
    "imageops": (
        "box_crop box_fit get_average_blue get_average_green "
        "get_average_red is_duplicate"),
    "informativeness": (
        "filter_low_informativeness_stage "
        "informativeness_model remove_low_informativeness"),
    "intervals": "on_schedule_col",
    "mathstats": (
        "cantorize confidence_interval cross_total faculty "
        "intervals_overlap ip_to_number is_within_correctness_margin "
        "jround list_similarity number_to_fraction number_to_ip "
        "order_of_magnitude parse_string_number set_similarity "
        "token_similarity token_similarity_expr"),
    "mlzoo": "knn_train",
    "multimodal": "detect_colors dominant_colors_stage",
    "nbsvm": "nbsvm_predict nbsvm_train nbsvm_transform transform_local",
    "packing": "chunk_stats",
    "pagedates": "get_publish_date",
    "protectedplanet": "read_protected_planet",
    "scope": (
        "_validate_multi_step cell_center cell_id cells_within "
        "coarsen_model dictionary_scope grid_cell_col knn_scope "
        "multi_step_dictionary_scope scope_feature_based scope_features "
        "ScopeModel train_dictionary_scope train_feature_based_scope "
        "train_knn_scope"),
    "segmenter": "make_mutual_xpath remove_xpath_indices",
    "sources": (
        "detect_csv_types pages_from_jsonl pages_from_warc "
        "parse_warc_records read_csv_dataset write_csv_dataset "
        "write_warc"),
    "spandedup": "scrub_duplicated_spans",
    "sparsedataset": (
        "libsvm_feature_information parse_header "
        "read_libsvm_dataset read_sparse_dataset"),
    "stopwords": (
        "is_stop_word remove_stop_words remove_stopwords_stage "
        "stop_token_col stopword_set"),
    "streaming": "stream_dedup_exact stream_near_dups",
    "strsim": "feature_based_similarity ngram_similarity permute_regex",
    "synonyms": "parse_open_office",
    "textclassifier": (
        "analyze category_entropy information_gain "
        "prune_information_gain prune_term_count"),
    "textvector": (
        "_cosine cosine_vector_similarity embedding_vector "
        "embedding_vectorize_stage load_term_corpus "
        "preprocess_tokens_udf read_vec_file read_word2vec_bin "
        "save_term_corpus sentence_vector token_word_mover "
        "word_mover word_mover_pairs_stage"),
    "tudloc": "read_tudloc2013 tudloc_documents",
    "units": (
        "best_fit_convert normalized_number_str smart_transform "
        "translate_units_of_input"),
    "utm": "grid_zone_to_lat_lon to_lat_lon utm_band utm_to_string utm_zone",
    "wiki": "parse_dec_deg",
    "wikicasedict": "clean_case_rows",
    "wikidump": "is_disambiguation",
    "wikiformat": "format_to_html",
    "wikiscope": "read_wikipedia_scope",
    "wikpostag": "tagged_string",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _roots():
    yield KGP / "pipeline.py"
    yield KGP / "datapipeline.py"
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from sorted((ROOT / "bench").glob("*.py"))
    yield from sorted(p for p in (ROOT / "perfbench").glob("*.py")
                      if not p.name.startswith("test_"))


def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def kgp_imports(path):
    """Names of the kgp modules `path` imports, in any of the three forms."""
    found = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                parts = alias.name.split(".")
                if parts[0] == "kgp" and len(parts) > 1:
                    found.add(parts[1])
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and node.module):
            parts = node.module.split(".")
            if parts[0] != "kgp":
                continue
            if len(parts) > 1:
                found.add(parts[1])
            else:
                found.update(alias.name for alias in node.names)
    return found


def kgp_closure(roots=None):
    seen, todo = set(), list(_roots() if roots is None else roots)
    reached = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in kgp_imports(path):
            module = KGP / f"{name}.py"
            if module.exists():
                reached.add(name)
                todo.append(module)
    return reached


def names_in(*nodes):
    """Every name the nodes use: loaded names, attributes, import
    aliases and identifiers inside string constants."""
    found = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                if not isinstance(node.ctx, (ast.Store, ast.Del)):
                    found.add(node.id)
            elif isinstance(node, ast.Attribute):
                found.add(node.attr)
            elif isinstance(node, ast.alias):
                found.update(node.name.split("."))
                if node.asname:
                    found.add(node.asname)
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)):
                found.update(_IDENT.findall(node.value))
    return found


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def reached_names(roots, modules, kept=()):
    """Every name reached code uses: the roots, every module-level
    statement of `modules`, and the bodies of the definitions those
    names (and the definition names in `kept`) reach, to a fixed
    point."""
    names = set(kept)
    for path in roots:
        names |= names_in(_parse(path))
    pending = {}   # name -> bodies of the definitions of that name
    for path in modules:
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFS):
                names |= names_in(*stmt.decorator_list)
                parts = list(stmt.body)
                if isinstance(stmt, ast.ClassDef):
                    parts += stmt.bases + stmt.keywords
                else:
                    parts.append(stmt.args)
                    if stmt.returns is not None:
                        parts.append(stmt.returns)
                pending.setdefault(stmt.name, []).extend(parts)
            else:
                names |= names_in(stmt)
    todo = [n for n in pending if n in names]
    while todo:
        body = pending.pop(todo.pop(), ())
        for name in names_in(*body) - names:
            names.add(name)
            if name in pending:
                todo.append(name)
    return names


def unreached_definitions(roots, modules, kept=()):
    """(module stem, name) of every top-level def/class in `modules`
    whose name no reached code uses, the bodies of the definitions
    named in `kept` counting as reached."""
    names = reached_names(roots, modules, kept)
    return sorted((path.stem, stmt.name) for path in modules
                  for stmt in _parse(path).body
                  if isinstance(stmt, _DEFS) and stmt.name not in names)


def _assigned(stmts):
    """Names the statements assign at their own level: targets of
    assignments, also inside if/try/with/for blocks, never inside a
    def, class or comprehension."""
    for stmt in stmts:
        if isinstance(stmt, ast.Assign):
            targets = stmt.targets
        elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
            targets = [stmt.target]
        else:
            targets = []
            if not isinstance(stmt, _DEFS):
                for field in ("body", "orelse", "finalbody", "handlers"):
                    yield from _assigned(getattr(stmt, field, ()))
        for target in targets:
            for node in ast.walk(target):
                if isinstance(node, ast.Name):
                    yield node.id


def unread_assignments(roots, modules, kept=()):
    """(module stem, name) of every top-level assignment in `modules`
    whose name no reached code loads, the bodies of the definitions
    named in `kept` counting as reached. Dunder names (`__all__`) are
    read by Python itself."""
    names = reached_names(roots, modules, kept)
    return sorted({(path.stem, name) for path in modules
                   for name in _assigned(_parse(path).body)
                   if name not in names
                   and not (name.startswith("__") and name.endswith("__"))})


def kept_definitions():
    """(module, name) of every definition `ORACLES` or `TEST_ONLY`
    keeps."""
    return sorted(set(ORACLES) | {(m, n) for m, names in TEST_ONLY.items()
                                  for n in names.split()})


def _test_function(base, test):
    path, func = test.split("::")
    for stmt in _parse(base / path).body:
        if isinstance(stmt, ast.FunctionDef) and stmt.name == func:
            return stmt
    return None


def oracle_problems(oracles, roots, modules, base):
    """The `oracles` entries that are no oracle: the definition is
    reached, or its test (a `path::function` under `base`) is missing,
    or the test's body does not use both the definition's name and a
    reached kgp definition."""
    unreached = set(unreached_definitions(roots, modules))
    reached = {stmt.name for path in modules for stmt in _parse(path).body
               if isinstance(stmt, _DEFS)
               and (path.stem, stmt.name) not in unreached}
    problems = []
    for (module, name), test in sorted(oracles.items()):
        func = _test_function(base, test)
        used = names_in(func) if func is not None else set()
        if ((module, name) not in unreached or name not in used
                or not used & reached):
            problems.append(f"{module}.{name} ({test})")
    return problems


def test_import_forms_are_followed(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("import kgp.alpha\nimport kgp.beta as b\n"
                   "from kgp.gamma import f\nfrom kgp import delta, epsilon\n"
                   "import os\nfrom os import path\n"
                   "def g():\n    from kgp.zeta import h\n")
    assert kgp_imports(src) == {"alpha", "beta", "gamma", "delta", "epsilon",
                                "zeta"}


def test_definition_scan_follows_bodies_to_a_fixed_point(tmp_path):
    root = tmp_path / "root.py"
    root.write_text("from kgp.a import entry as e\n"
                    "x = e()\n")
    a = tmp_path / "a.py"
    a.write_text(
        "import functools\n"
        "TABLE = {'k': 'by_string'}\n"
        "@functools.lru_cache\n"
        "def entry():\n    return helper(1)\n"
        "def helper(n):\n    return obj.method(n)\n"
        "def method():\n    pass\n"
        "def by_string():\n    pass\n"
        "def only_test():\n    return dead_end()\n"
        "def dead_end():\n    return entry()\n"
        "class Base:\n    pass\n"
        "class Child(Base):\n    def inner(self):\n        return gone()\n"
        "def gone():\n    pass\n")
    b = tmp_path / "b.py"
    b.write_text("def uses_child():\n    return Child()\n"
                 "RESULT = typed()\n"
                 "def typed(x: 'Annot') -> int:\n    return x\n"
                 "class Annot:\n    pass\n")
    assert unreached_definitions([root], [a, b]) == [
        ("a", "Base"), ("a", "Child"), ("a", "dead_end"), ("a", "gone"),
        ("a", "only_test"), ("b", "uses_child")]


def test_assignment_scan_counts_loads_only(tmp_path):
    root = tmp_path / "root.py"
    root.write_text("from kgp.a import entry\nentry(USED_BY_ROOT)\n")
    a = tmp_path / "a.py"
    a.write_text(
        "__all__ = ['entry']\n"
        "USED_BY_ROOT = 1\n"
        "IN_BODY, UNREAD = 2, 3\n"
        "ONLY_STORED = 4\n"
        "ONLY_STORED = 5\n"
        "ONLY_DELETED = 6\n"
        "del ONLY_DELETED\n"
        "TOTAL: int = 0\n"
        "TOTAL += 1\n"
        "SQUARES = {n: n * n for n in range(3)}\n"
        "try:\n    import zlib\nexcept ImportError:\n    FALLBACK = None\n"
        "def entry(x):\n    local = IN_BODY\n    return local + SQUARES[x]\n"
        "def unreached():\n    return TOTAL\n"
        "def oracle():\n    return FALLBACK\n")
    assert unread_assignments([root], [a]) == [
        ("a", "FALLBACK"), ("a", "ONLY_DELETED"), ("a", "ONLY_STORED"),
        ("a", "TOTAL"), ("a", "UNREAD")]
    assert ("a", "FALLBACK") not in unread_assignments(
        [root], [a], kept=["oracle"])


def test_every_kgp_module_is_reached():
    modules = {p.stem for p in KGP.glob("*.py") if p.stem != "__init__"}
    unreached = sorted(modules - kgp_closure())
    assert not unreached, (
        f"{len(unreached)} kgp modules are reached by no pipeline, gate or "
        f"benchmark: {', '.join(unreached)}")


def test_oracle_guard_needs_a_reached_operator(tmp_path):
    root = tmp_path / "root.py"
    root.write_text("from kgp.a import stage\nstage()\n")
    a = tmp_path / "a.py"
    a.write_text("def stage():\n    return 1\n"
                 "def twin():\n    return 1\n")
    t = tmp_path / "test_a.py"
    t.write_text("def test_compares():\n    assert stage() == twin()\n"
                 "def test_twin_alone():\n    assert twin() == 1\n")
    assert oracle_problems({("a", "twin"): "test_a.py::test_compares"},
                           [root], [a], tmp_path) == []
    assert oracle_problems({("a", "twin"): "test_a.py::test_twin_alone"},
                           [root], [a], tmp_path) == [
        "a.twin (test_a.py::test_twin_alone)"]
    assert oracle_problems({("a", "twin"): "test_a.py::test_gone"},
                           [root], [a], tmp_path) == [
        "a.twin (test_a.py::test_gone)"]
    assert oracle_problems({("a", "stage"): "test_a.py::test_compares"},
                           [root], [a], tmp_path) == [
        "a.stage (test_a.py::test_compares)"]


def test_every_pipeline_definition_is_reached():
    roots, modules = list(_roots()), sorted(KGP.glob("*.py"))
    kept = kept_definitions()
    missing = unreached_definitions(roots, modules,
                                    [name for _, name in kept])
    assert not missing, (
        f"{len(missing)} kgp definitions are reached by no pipeline, gate "
        f"or benchmark: " + ", ".join(f"{m}.{n}" for m, n in missing))
    # an oracle names a still unreached definition and a test that
    # compares a reached operator against it
    problems = oracle_problems(ORACLES, roots, modules, ROOT)
    assert not problems, f"ORACLES entries that are no oracle: {problems}"
    # a test-only entry is still unreached and a test still uses it
    unreached = set(unreached_definitions(roots, modules))
    tested = names_in(*(_parse(p) for p in (ROOT / "tests").glob("test_*.py")
                        if p.name != Path(__file__).name))
    stale = [f"{m}.{n}" for m, n in kept
             if (m, n) not in unreached or n not in tested]
    assert not stale, f"stale ORACLES/TEST_ONLY entries: {stale}"


def test_every_pipeline_assignment_is_read():
    modules = sorted(KGP.glob("*.py"))
    # what a kept definition reads stays with it
    unread = unread_assignments(
        list(_roots()), modules,
        kept=[name for _, name in kept_definitions()])
    assert not unread, (
        f"{len(unread)} module-level kgp names are read by no pipeline, "
        f"gate or benchmark: "
        + ", ".join(f"{m}.{n}" for m, n in unread))
