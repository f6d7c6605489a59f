"""The output checks, on tiny fixtures: they must pass the expected
output and catch each kind of wrong one."""

from stats import digest
from wl_corpus import (content_key, corpus_errors, expected_keys, minhash,
                       planted_corpus)
from wl_crawl import POLITE_WEB, fetch_log_errors, model_log, polite_budget

LOG = [
    (1, "h0", "https://h0/a", 0, 0, 0, 200),
    (1, "h0", "https://h0/b", 0, 1, 0, 503),
    (1, "h0", "https://h0/b", 0, 1, 1, 200),
    (2, "h1", "https://h1/c", 1, 2, 0, 404),
]
EXPECTED = {"digest": digest(LOG), "attempts": len(LOG)}


def test_fetch_log_check_accepts_the_model_log_in_any_order():
    errs, worst = fetch_log_errors(list(reversed(LOG)), EXPECTED, k_host=2)
    assert errs == [] and worst == 2  # retries of one url count once


def test_fetch_log_check_catches_a_changed_status_or_missing_attempt():
    bad = LOG[:-1] + [(2, "h1", "https://h1/c", 1, 2, 0, 200)]
    assert len(fetch_log_errors(bad, EXPECTED, 2)[0]) == 1
    assert len(fetch_log_errors(LOG[1:], EXPECTED, 2)[0]) == 1


def test_fetch_log_check_catches_a_broken_politeness_budget():
    errs, worst = fetch_log_errors(LOG, EXPECTED, k_host=1)
    assert worst == 2 and any("k_host=1" in e for e in errs)


def test_polite_budget_is_the_smallest_that_keeps_the_wave_count():
    web = {**POLITE_WEB, "n_biz": 12, "n_hosts": 4, "seed": 5}
    found, log = polite_budget(web, waves=4, hot_pages=40)
    k = found["max_parallel"]
    assert max(r[0] for r in log) <= 4
    assert max(r[0] for r in model_log({**web, "max_parallel": k - 1})) > 4
    # the hot host fills the budget in some wave: the check is not vacuous
    assert fetch_log_errors(log, {"digest": digest(log), "attempts": 0}, k)[1] == k


def _expected_corpus(seed=7, n=200):
    _rows, texts, evals = planted_corpus(seed, n)
    keys = expected_keys(n, [e[0] for e in evals])
    # one survivor per content key: pick the near duplicate where there is one
    got = []
    for k in keys:
        i = k + 1 if k % 100 == 0 else k
        got.append((f"https://host{(i + seed) % 64}.example.com/p/{i}", texts[i]))
    return got, texts, keys, evals


def test_planted_near_duplicates_share_every_minhash_component():
    _rows, texts, _evals = planted_corpus(3, 300)
    for base in (0, 100, 200):
        assert texts[base] != texts[base + 1]
        assert minhash(texts[base]) == minhash(texts[base + 1])
        assert texts[base + 2] == texts[base]


def test_eval_docs_are_never_in_a_duplicate_group():
    _rows, _texts, evals = planted_corpus(5, 1000)
    assert evals and all(i % 100 >= 3 for i, _t in evals)


def test_expected_keys_collapse_groups_and_drop_eval_docs():
    got, _texts, keys, evals = _expected_corpus()
    assert len(keys) == 200 - 2 * 2 - len(evals)
    assert {content_key(i) for i in (100, 101, 102)} == {100}


def test_corpus_check_accepts_either_survivor_of_a_group():
    got, texts, keys, _evals = _expected_corpus()
    assert corpus_errors(got, list(reversed(got)), texts, keys) == []
    swapped = [(u.replace("/p/1", "/p/0") if u.endswith("/p/1") else u, t)
               for u, t in got]
    swapped = [(u, texts[int(u.rsplit("/", 1)[1])]) for u, _t in swapped]
    assert corpus_errors(swapped, swapped, texts, keys) == []


def test_corpus_check_catches_a_kept_duplicate_a_lost_doc_and_bad_text():
    got, texts, keys, _evals = _expected_corpus()
    dup = got + [("https://x/p/102", texts[102])]
    assert len(corpus_errors(dup, dup, texts, keys)) == 1
    lost = got[1:]
    assert len(corpus_errors(lost, lost, texts, keys)) == 1
    url, text = got[5]
    bad = got[:5] + [(url, text + " x")] + got[6:]
    assert len(corpus_errors(bad, bad, texts, keys)) == 1


def test_corpus_check_catches_wet_files_that_differ():
    got, texts, keys, _evals = _expected_corpus()
    assert len(corpus_errors(got, got[:-1], texts, keys)) == 1
