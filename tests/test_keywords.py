"""Keyword-bag query enrichment + dual-strategy search (reference
5.3.0 'Enriched keyword-bag queries', CHANGELOG.md:49; extraction
grammar from plugin/hooks/memory-query.sh:64-82 build_keyword_bag;
merge semantics :237-245). The extraction test pins the reference's
own example prompt (tests/test_claude_memory_hooks.py:949-988)."""

from __future__ import annotations

from memories_spark.engine import MemoriesEngine
from memories_spark.extraction import mock_embed
from memories_spark.functions.keywords import (
    build_keyword_bag,
    enrich_query,
    extract_domain_nouns,
    extract_identifiers,
    extract_versions,
)
from memories_spark.search import dual_strategy_search, release_caches

NOW = "2024-06-01 12:00:00"

# the reference's own test prompt (test_claude_memory_hooks.py:957)
REF_PROMPT = (
    "ok so the UserPrefs module uses fetch_config and the MAX_RETRIES "
    "constant for v2.1.0 of PR-42"
)


def test_keyword_bag_on_reference_example():
    """Pin the exact assertions of the reference's
    test_build_keyword_bag_strips_filler_keeps_domain_terms."""
    bag = build_keyword_bag(REF_PROMPT, "myproject")
    for kept in ("myproject", "UserPrefs", "fetch_config", "MAX_RETRIES",
                 "v2.1.0", "PR-42"):
        assert kept in bag, bag
    words = bag.lower().split()
    for filler in ("ok", "so", "the", "uses", "and", "for", "of"):
        assert filler not in words, bag


def test_extractor_groups_and_caps():
    assert extract_identifiers("FooBar baz_qux HTTP") == [
        "FooBar", "HTTP", "baz_qux"
    ]
    assert extract_versions("fix #12 for v1.2.3 in PR 7 and PR-9") == [
        "#12", "PR 7", "PR-9", "v1.2.3"
    ]
    nouns = extract_domain_nouns("the retry queue uses redis for caching")
    assert nouns == ["caching", "queue", "redis", "retry"]
    # caps: 10 identifiers / 5 versions / 15 nouns
    many_ids = " ".join(f"word_{chr(97 + i)}x" for i in range(20))
    assert len(extract_identifiers(many_ids)) == 10
    many_vers = " ".join(f"#{i}" for i in range(10, 22))
    assert len(extract_versions(many_vers)) == 5
    many_nouns = " ".join(f"noun{chr(97 + i)}" for i in range(26))
    assert len(extract_domain_nouns(many_nouns)) == 15


def test_enrich_query_short_fallback():
    """An enrichment under 5 chars serves the original prompt
    (memory-query.sh:160-162)."""
    assert enrich_query("do it", "") == "do it"
    assert enrich_query("", "") == ""
    assert enrich_query("configure the RetryPolicy", "proj").startswith("proj")


def _rec(text, source):
    return {"text": text, "source": source, "embedding": mock_embed(text)}


def test_dual_strategy_merge_and_provenance(spark, tmp_path):
    """Strategy A (enriched unscoped k=6) + Strategy B (enriched
    prefix-scoped k=3) merge unique-by-id — first strategy wins the
    payload — sorted by coalesce(similarity, rrf_score, 0) desc,
    capped at 6 (memory-query.sh:237-245)."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(
        [
            _rec("RetryPolicy uses exponential backoff", "proj/alpha"),
            _rec("the retry queue drains hourly", "proj/alpha"),
            _rec("backoff jitter is five percent", "proj/beta"),
            _rec("unrelated grocery list", "home/misc"),
        ],
        NOW,
    )
    df = dual_strategy_search(
        eng, "how does the RetryPolicy backoff work", project="proj",
        scoped_prefixes=("proj/alpha",), threshold=None,
        auto_intent=False, now=NOW,
    )
    rows = df.collect()
    release_caches(df)
    ids = [r.id for r in rows]
    assert len(ids) == len(set(ids))  # unique by id
    assert len(rows) <= 6
    assert {r.strategy for r in rows} <= {"unscoped", "scoped:proj/alpha"}
    # sorted by coalesce(similarity, rrf_score, 0) descending
    scores = [
        (r.similarity if r.similarity is not None else (r.rrf_score or 0.0))
        for r in rows
    ]
    assert scores == sorted(scores, reverse=True)


def test_dual_strategy_deterministic(spark, tmp_path):
    """Same store + same prompt => identical merged results across
    runs (the RNG-free determinism gate for the merge)."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add([_rec(f"note {i} about deploy gates", f"proj/{i % 2}")
             for i in range(8)], NOW)

    def run():
        df = dual_strategy_search(
            eng, "what are the deploy gates", project="proj",
            scoped_prefixes=("proj/0",), threshold=None,
            auto_intent=False, now=NOW,
        )
        rows = [(r.id, r.strategy, round(r.rrf_score, 9)) for r in df.collect()]
        release_caches(df)
        return rows

    assert run() == run()


def test_dual_strategy_fallback_on_empty(spark, tmp_path):
    """A threshold that kills both strategies triggers ONE fallback
    search with the ORIGINAL verbose prompt (memory-query.sh:247-250)."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add([_rec("alpha beta gamma", "proj/x")], NOW)
    df = dual_strategy_search(
        eng, "completely unrelated query", project="proj",
        scoped_prefixes=("proj/x",), threshold=0.999,
        scoped_threshold=0.999, fallback_threshold=None,
        auto_intent=False, now=NOW,
    )
    rows = df.collect()
    release_caches(df)
    assert rows and all(r.strategy == "fallback" for r in rows)


def test_dual_strategy_fallback_threshold_filters_noise(spark, tmp_path):
    """Round-6 advice (medium): the reference fallback is k=5 with
    threshold 0.55 (memory-query.sh:32-35) — a low-similarity corpus
    must NOT leak through the fallback at the defaults. The reference
    hook emits no context in that case; our twin returns zero rows."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add([_rec("alpha beta gamma", "proj/x")], NOW)
    df = dual_strategy_search(
        eng, "completely unrelated query", project="proj",
        scoped_prefixes=("proj/x",), threshold=0.999,
        scoped_threshold=0.999,
        auto_intent=False, now=NOW,
    )
    rows = df.collect()
    release_caches(df)
    assert rows == []  # 0.55 fallback threshold filtered the noise

    # and the reference's parameter defaults stay pinned to the hook's
    import inspect

    sig = inspect.signature(dual_strategy_search)
    assert sig.parameters["scoped_threshold"].default == 0.35
    assert sig.parameters["fallback_k"].default == 5
    assert sig.parameters["fallback_threshold"].default == 0.55


def test_dual_strategy_releases_everything(spark, tmp_path):
    """The fan-out persists no storage block (its merged rows are one
    collect, not a cache), and one release_caches on the merged result
    frees every branch's snapshot refs."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add([_rec(f"note {i} on retry backoff", "proj/a") for i in range(5)],
            NOW)
    eng.serving_memories().count()
    sc = spark.sparkContext

    def cached_ids():
        return {int(i.id()) for i in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()
    df = dual_strategy_search(
        eng, "retry backoff", project="proj", scoped_prefixes=("proj/a",),
        threshold=None, auto_intent=False, now=NOW,
    )
    df.collect()
    made = cached_ids() - before
    assert not made, f"dual-strategy made blocks: {sorted(made)}"
    release_caches(df)
    leaked = cached_ids() - before
    assert not leaked, f"dual-strategy leaked blocks: {sorted(leaked)}"
    assert eng._snap_cur["refs"] == 0


# --- intent-based prefix biasing + context enrichment (round 8) ---------


def test_intent_prefix_case_table():
    """Pin the reference's case table (memory-query.sh:142-149):
    fix/debug/error/bug/broken/crash -> learning + bug-fix scopes;
    how/setup/configure/install -> decision + learning scopes. The
    shell `case pattern*` is a STARTS-WITH match on the lowercased
    prompt, first rule wins."""
    from memories_spark.functions.keywords import intent_prefixes

    for p in ("fix the login", "debug this test", "error in the parser",
              "bug when saving", "broken pipeline", "crash on startup",
              "Fix The Login"):
        assert intent_prefixes(p, "proj") == (
            "learning/proj", "bug-fix/proj"), p
    for p in ("how do I deploy", "setup the cluster", "configure tls",
              "install the agent"):
        assert intent_prefixes(p, "proj") == (
            "decision/proj", "learning/proj"), p
    # prefix (not word) semantics, exactly as the shell glob
    assert intent_prefixes("fixture cleanup", "proj") == (
        "learning/proj", "bug-fix/proj")
    assert intent_prefixes("however we proceed", "proj") == (
        "decision/proj", "learning/proj")
    # first-match-wins in written order
    assert intent_prefixes("fix how the setup works", "proj") == (
        "learning/proj", "bug-fix/proj")
    # no project => no intent searches (hook guards on -n "$PROJECT")
    assert intent_prefixes("fix the login", "") == ()
    # unmatched intents bias nothing
    assert intent_prefixes("deploy the service", "proj") == ()
    assert intent_prefixes("", "proj") == ()


def test_scoped_prefix_queue_order():
    """Strategy-B queue order (memory-query.sh:211-227): the
    per-client-family {project} templates first, then the
    intent-biased extras — duplicates preserved exactly as the hook
    queues them (the unique-by-id merge makes them harmless)."""
    from memories_spark.functions.keywords import scoped_search_prefixes

    assert scoped_search_prefixes("proj", "deploy the service") == (
        "claude-code/proj", "codex/proj", "learning/proj", "wip/proj")
    assert scoped_search_prefixes("proj", "fix the login") == (
        "claude-code/proj", "codex/proj", "learning/proj", "wip/proj",
        "learning/proj", "bug-fix/proj")
    assert scoped_search_prefixes("", "fix the login") == ()
    # custom template set ({project} substitution + whitespace trim)
    assert scoped_search_prefixes(
        "p", "how to", templates=(" a/{project} ", "", "b/{project}")
    ) == ("a/p", "b/p", "decision/p", "learning/p")


def test_context_identifier_enrichment():
    """Context identifiers (memory-query.sh:157-160): CamelCase and
    snake_case ONLY — no SCREAMING_SNAKE alternative unlike the
    prompt pass — sorted-unique, capped at 5, appended to the bag."""
    from memories_spark.functions.keywords import (
        enrich_query_with_context,
        extract_context_identifiers,
    )

    ctx = ("we changed RetryPolicy and retry_queue; MAX_RETRIES stays; "
           "also touched BackoffJitter and drain_loop and audit_log "
           "and FooBar")
    terms = extract_context_identifiers(ctx)
    assert "MAX_RETRIES" not in terms  # SCREAMING excluded here
    assert terms == sorted(terms) and len(terms) == 5
    assert terms == ["BackoffJitter", "FooBar", "RetryPolicy",
                     "audit_log", "drain_loop"]

    enriched = enrich_query_with_context(
        "tune the backoff settings", "proj", ctx)
    for t in terms:
        assert t in enriched, (t, enriched)
    assert enriched.startswith("proj ")
    # without context this is exactly enrich_query
    assert enrich_query_with_context("tune the backoff", "proj") == \
        enrich_query("tune the backoff", "proj")
    # short enrichment + context -> the verbose hook composition
    v = enrich_query_with_context("do", "", "just context words")
    assert v.startswith("Project: unknown\nRecent conversation:\n")
    assert v.endswith("Current prompt: do")


def test_fallback_query_composition():
    """The verbose fallback QUERY_TEXT (memory-query.sh:170-182):
    Files/Terms comma-joined; REFERENCE QUIRK — the separator after
    each prefix line is a LITERAL backslash-n (bash printf %s does
    not expand escapes in arguments)."""
    from memories_spark.functions.keywords import fallback_query

    q = fallback_query(
        "fix RetryPolicy in the drain_loop", "proj",
        context="recent talk", active_files=("a.py", "b.py"))
    assert q.startswith("Files: a.py,b.py\\nTerms: RetryPolicy,drain_loop\\n")
    assert "\nProject: proj\nRecent conversation:\nrecent talk\n" in q
    assert q.endswith("Current prompt: fix RetryPolicy in the drain_loop")
    # no context: Files/Terms stack above the bare prompt
    q2 = fallback_query("fix RetryPolicy", "", active_files=("a.py",))
    assert q2 == "Files: a.py\nTerms: RetryPolicy\nfix RetryPolicy"
    # nothing to enrich: the bare prompt
    assert fallback_query("just words here") == "just words here"


def test_prompt_recall_search_full_composition(spark, tmp_path):
    """The full hook flow: an intent prompt ('fix ...') must reach
    the bug-fix/{project} scope (a record visible ONLY through the
    intent-biased search shows up), and sub-20-char prompts with no
    context skip the search entirely (memory-query.sh:188-190)."""
    from memories_spark.search import prompt_recall_search

    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(
        [
            _rec("login crash traced to session timeout handling",
                 "bug-fix/proj"),
            _rec("unrelated grocery list", "home/misc"),
        ],
        NOW,
    )
    assert prompt_recall_search(eng, "short prompt") is None
    df = prompt_recall_search(
        eng, "fix the login crash from session timeout", project="proj",
        threshold=None, scoped_threshold=None, auto_intent=False, now=NOW,
    )
    rows = df.collect()
    release_caches(df)
    strategies = {r.strategy for r in rows}
    assert any(s == "scoped:bug-fix/proj" for s in strategies) or any(
        r.source == "bug-fix/proj" for r in rows), (strategies, rows)
