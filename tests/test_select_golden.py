"""Golden select/aggregate tests transliterated from
/root/reference/itest/test_select.py (the reference's authoritative
operator-semantics corpus)."""

import math

import pytest

from siridb_server_spark import QueryError, SiriEngine
from tests.golden_data import DATA, LENPOINTS, SORTED_DATA


@pytest.fixture(scope="module")
def eng(spark, both_ways):
    e = SiriEngine(spark, precision="s")
    assert e.insert(DATA) == {
        "success_msg": f"Successfully inserted {LENPOINTS} point(s)."}
    return both_ways(e)


def approx_result(got, expected):
    assert set(got) == set(expected)
    for k in expected:
        assert len(got[k]) == len(expected[k]), k
        for g, e in zip(got[k], expected[k]):
            assert g[0] == e[0], k
            if isinstance(e[1], float):
                if math.isnan(e[1]):
                    assert math.isnan(g[1]), k
                else:
                    assert g[1] == pytest.approx(e[1]), k
            else:
                assert g[1] == e[1], (k, g, e)


def test_difference(eng):
    assert eng.query('select difference() from "series-001 integer"') == {
        'series-001 integer': [[1471254708, -8], [1471254710, -4]]}


def test_difference_chained(eng):
    assert eng.query(
        'select difference() => difference() from "series-001 integer"'
    ) == {'series-001 integer': [[1471254710, 4]]}


def test_difference_chained3(eng):
    assert eng.query(
        'select difference() => difference() => difference() '
        'from "series-001 integer"') == {'series-001 integer': []}


def test_difference_bucket_now(eng):
    now = 1600000000
    got = eng.query(
        f'select difference({now}) from "series-001 integer"')
    assert got == {'series-001 integer': [[now, -12]]}


def test_merge_median_low(eng):
    now = 1600000000
    got = eng.query(
        f'select * from /series-001.*/ merge as "median_low" '
        f'using median_low({now})')
    assert got == {'median_low': [[now, -3.5]]}


def test_merge_median_high(eng):
    now = 1600000000
    got = eng.query(
        f'select * from /series-001.*/ merge as "median_high" '
        f'using median_high({now})')
    assert got == {'median_high': [[now, -3.0]]}


def test_merge_max_1s(eng):
    got = eng.query(
        'select * from /series.*/ merge as "max" using max(1s)')
    assert got == {'max': [
        [1471254705, 5.0],
        [1471254707, -2.5],
        [1471254708, -1.0],
        [1471254710, -7.0],
    ]}


def test_sum_1h(eng):
    assert eng.query('select sum(1h) from "aggr"') == {'aggr': [
        [1447250400, 2663], [1447254000, 5409], [1447257600, 1602]]}


def test_count_1h(eng):
    assert eng.query('select count(1h) from "aggr"') == {'aggr': [
        [1447250400, 5], [1447254000, 12], [1447257600, 3]]}


def test_mean_1h(eng):
    approx_result(eng.query('select mean(1h) from "aggr"'), {'aggr': [
        [1447250400, 532.6], [1447254000, 450.75], [1447257600, 534.0]]})


def test_median_1h(eng):
    approx_result(eng.query('select median(1h) from "aggr"'), {'aggr': [
        [1447250400, 532.0], [1447254000, 530.5], [1447257600, 533.0]]})


def test_median_low_1h(eng):
    assert eng.query('select median_low(1h) from "aggr"') == {'aggr': [
        [1447250400, 532], [1447254000, 530], [1447257600, 533]]}


def test_median_high_1h(eng):
    assert eng.query('select median_high(1h) from "aggr"') == {'aggr': [
        [1447250400, 532], [1447254000, 531], [1447257600, 533]]}


def test_min_1h(eng):
    assert eng.query('select min(1h) from "aggr"') == {'aggr': [
        [1447250400, 531], [1447254000, 54], [1447257600, 532]]}


def test_max_1h(eng):
    assert eng.query('select max(1h) from "aggr"') == {'aggr': [
        [1447250400, 535], [1447254000, 538], [1447257600, 537]]}


def test_variance_1h(eng):
    approx_result(eng.query('select variance(1h) from "aggr"'), {'aggr': [
        [1447250400, 3.3],
        [1447254000, 34396.931818181816],
        [1447257600, 7.0]]})


def test_pvariance_1h(eng):
    approx_result(eng.query('select pvariance(1h) from "aggr"'), {'aggr': [
        [1447250400, 2.6399999999999997],
        [1447254000, 31530.520833333332],
        [1447257600, 4.666666666666667]]})


def test_many_union_minus(eng):
    q = 'select * from ({}) - ("a", "b")'.format(
        ','.join(['"aggr"'] * 600))
    assert eng.query(q) == {'aggr': SORTED_DATA['aggr']}


def test_difference_1h(eng):
    assert eng.query('select difference(1h) from "aggr"') == {'aggr': [
        [1447250400, 1], [1447254000, -3], [1447257600, 5]]}


def test_derivative_1_1h(eng):
    approx_result(
        eng.query('select derivative(1, 1h) from "aggr"'), {'aggr': [
            [1447250400, 0.0002777777777777778],
            [1447254000, -0.0008333333333333333],
            [1447257600, 0.001388888888888889]]})


def test_filter_gt(eng):
    assert eng.query('select filter(>534) from "aggr"') == {'aggr': [
        [1447249633, 535],
        [1447250549, 537],
        [1447252349, 537],
        [1447253549, 538],
        [1447254748, 537]]}


def test_filter_regex(eng):
    import re
    expected = {'log': [p for p in SORTED_DATA['log']
                        if re.match('l.*', p[1])]}
    assert eng.query(
        'select filter(/l.*/) from * where type == string') == expected
    assert eng.query(
        'select filter(==/l.*/) from * where type == string') == expected


def test_filter_regex_ne(eng):
    import re
    assert eng.query(
        'select filter(!=/l.*/) from * where type == string') == {
        'log': [p for p in SORTED_DATA['log'] if not re.match('l.*', p[1])]}


def test_limit_300_mean(eng):
    assert eng.query('select limit(300, mean) from "aggr"') == {
        'aggr': SORTED_DATA['aggr']}


def test_limit_1_sum(eng):
    assert eng.query('select limit(1, sum)  from "aggr"') == {
        'aggr': [[1447254748, 9674]]}


def test_limit_3_mean(eng):
    approx_result(eng.query('select limit(3, mean) from "aggr"'), {
        'aggr': [
            [1447250938, 532.8571428571429],
            [1447252844, 367.6666666666667],
            [1447254750, 534.0]]})


def test_limit_2_max(eng):
    approx_result(
        eng.query('select limit(2, max)  from "series-001 float"'),
        {'series-001 float': [[1471254707, 1.5], [1471254713, -7.3]]})


def test_variance_to_one(eng):
    approx_result(
        eng.query('select variance(1471254712) from "variance"'),
        {'variance': [[1471254712, 1.3720238095238095]]})


def test_pvariance_to_one(eng):
    approx_result(
        eng.query('select pvariance(1471254715) from "pvariance"'),
        {'pvariance': [[1471254715, 1.25]]})


def test_select_one(eng):
    assert eng.query('select * from "one"') == {'one': [[1471254710, 1]]}


def test_select_log(eng):
    assert eng.query('select * from "log"') == {'log': SORTED_DATA['log']}


def test_filter_contains_chain(eng):
    assert eng.query(
        'select filter(~"log") => filter(!~"one") from "log"') == {
        'log': [SORTED_DATA['log'][1]]}


def test_filter_nan_ne(eng):
    assert eng.query('select filter(!=nan) from "special"') == {
        'special': [p for p in SORTED_DATA['special']
                    if not math.isnan(p[1])]}


def test_filter_nan_eq(eng):
    approx_result(eng.query('select filter(==nan) from "special"'), {
        'special': [p for p in SORTED_DATA['special'] if math.isnan(p[1])]})


def test_filter_nan_ge_le(eng):
    expected = {'special': [p for p in SORTED_DATA['special']
                            if math.isnan(p[1])]}
    approx_result(eng.query('select filter(>=nan) from "special"'),
                  expected)
    approx_result(eng.query('select filter(<=nan) from "special"'),
                  expected)


def test_filter_inf(eng):
    assert eng.query('select filter(==inf) from "special"') == {
        'special': [p for p in SORTED_DATA['special']
                    if p[1] == math.inf]}
    approx_result(eng.query('select filter(<inf) from "special"'), {
        'special': [p for p in SORTED_DATA['special'] if p[1] < math.inf]})
    approx_result(eng.query('select filter(>inf) from "special"'),
                  {'special': []})


def test_filter_ninf(eng):
    assert eng.query('select filter(==-inf) from "special"') == {
        'special': [p for p in SORTED_DATA['special']
                    if p[1] == -math.inf]}
    approx_result(eng.query('select filter(>-inf) from "special"'), {
        'special': [p for p in SORTED_DATA['special'] if p[1] > -math.inf]})
    approx_result(eng.query('select filter(<-inf) from "special"'),
                  {'special': []})


def test_prefix_filters(eng):
    assert eng.query(
        'select filter(~"one") prefix "1-", '
        'filter(~"two") prefix "2-" from "log"') == {
        '1-log': [
            [1471254710, 'log line one'],
            [1471254716, 'and yet one more']],
        '2-log': [[1471254712, 'log line two']]}


def test_timeval(eng):
    assert eng.query('select timeval() from "aggr"') == {
        'aggr': [[p[0], p[0]] for p in SORTED_DATA['aggr']]}


def test_interval(eng):
    pts = SORTED_DATA['aggr']
    assert eng.query('select interval() from "aggr"') == {
        'aggr': [[pts[i][0], pts[i][0] - pts[i - 1][0]]
                 for i in range(1, len(pts))]}


def test_difference_one(eng):
    assert eng.query('select difference() from "one"') == {'one': []}


def test_err_empty_regex_contains(eng):
    with pytest.raises(QueryError,
                       match='Regular expressions can only be used with'):
        eng.query('select filter(~//) from "log"')


def test_err_string_filter_on_number(eng):
    with pytest.raises(QueryError,
                       match='Cannot use a string filter on number type.'):
        eng.query('select filter(//) from "aggr"')


def test_err_mean_on_string(eng):
    with pytest.raises(QueryError,
                       match=r'Cannot use mean\(\) on string type\.'):
        eng.query('select mean(1w) from "log"')


def test_err_zero_group_by(eng):
    with pytest.raises(
            QueryError,
            match=r'Group by time must be an integer value larger than'):
        eng.query('select mean(0) from "aggr"')


def test_err_zero_limit(eng):
    with pytest.raises(
            QueryError,
            match=r'Limit must be an integer value larger than zero\.'):
        eng.query('select limit(6 - 6, mean) from "aggr"')


def test_err_merge_string_filter(eng):
    with pytest.raises(QueryError,
                       match=r'Cannot use a string filter on number type\.'):
        eng.query('select * from "aggr" merge as "t" using filter("0")')


def test_err_difference_string(eng):
    with pytest.raises(QueryError,
                       match=r'Cannot use difference\(\) on string type\.'):
        eng.query('select difference() from "log"')


def test_err_derivative_string(eng):
    with pytest.raises(QueryError,
                       match=r'Cannot use derivative\(\) on string type\.'):
        eng.query('select derivative(6, 3) from "log"')
    with pytest.raises(QueryError,
                       match=r'Cannot use derivative\(\) on string type\.'):
        eng.query('select derivative() from "log"')


def test_err_sum_overflow(eng):
    with pytest.raises(QueryError,
                       match=r'Overflow detected while using sum\(\)\.'):
        eng.query('select sum(now) from "huge"')


def test_err_where_depth(eng):
    with pytest.raises(QueryError,
                       match="Max depth reached in 'where' expression!"):
        eng.query('select * from "aggr" where ((((((length > 1))))))')


def test_err_bad_regex(eng):
    with pytest.raises(QueryError,
                       match='Cannot compile regular expression'):
        eng.query('select * from /(bla/')


def test_err_paren_recursion(eng):
    with pytest.raises(
            QueryError,
            match='Memory allocation error or maximum recursion depth'):
        eng.query('select * from {}"aggr"{}'.format('(' * 501, ')' * 501))


def test_err_query_too_long(eng):
    with pytest.raises(QueryError, match='Query too long.'):
        eng.query('select * from "{}"'.format('a' * 65535))


def test_err_merge_empty_name(eng):
    with pytest.raises(QueryError,
                       match='Error while merging points'):
        eng.query('select * from "aggr", "huge" merge as ""')


def test_merge_multi_pipeline_presuf(eng):
    got = eng.query(
        'select min(2h) prefix "min-", max(1h) prefix "max-" '
        'from /.*/ where type == integer and name != "filter" '
        'and name != "one" and name != "series-002 integer" '
        'merge as "int_min_max" using median_low(1) => difference()')
    assert got == {
        'max-int_min_max': [
            [1447254000, 3], [1447257600, -1], [1471255200, -532]],
        'min-int_min_max': [
            [1447257600, -477], [1471255200, -54]]}


def test_derivative_equal_ts_no_crash(eng):
    eng.query('select derivative() from "equal ts"')


def test_first_all(eng):
    assert eng.query('select first() from *') == {
        k: [v[0]] for k, v in SORTED_DATA.items()}


def test_last_all(eng):
    assert eng.query('select last() from *') == {
        k: [v[-1]] for k, v in SORTED_DATA.items()}


def test_count_all(eng):
    assert eng.query('select count() from *') == {
        k: [[v[-1][0], len(v)]] for k, v in SORTED_DATA.items()}


def test_mean_to_one(eng):
    pts = SORTED_DATA['aggr']
    approx_result(eng.query('select mean() from "aggr"'), {'aggr': [[
        pts[-1][0], sum(x[1] for x in pts) / len(pts)]]})


def test_stddev_to_one(eng):
    approx_result(eng.query('select stddev() from "aggr"'), {
        'aggr': [[SORTED_DATA['aggr'][-1][0], 147.07108914792838]]})


def test_stddev_1h(eng):
    approx_result(eng.query('select stddev(1h) from "aggr"'), {"aggr": [
        [1447250400, 1.8165902124584952],
        [1447254000, 185.46409846162092],
        [1447257600, 2.6457513110645907]]})


def test_presuf_sum_min_max(eng):
    result = eng.query(
        'select sum(1d) prefix "sum-" suffix "-sum", '
        'min(1d) prefix "minimum-", '
        'max(1d) suffix "-maximum" from "aggr"')
    assert 'sum-aggr-sum' in result
    assert 'minimum-aggr' in result
    assert 'aggr-maximum' in result


def test_select_points_limit(eng):
    eng.query('alter database set select_points_limit 10')
    try:
        with pytest.raises(
                QueryError,
                match='Query has reached the maximum number of selected'):
            eng.query('select * from /.*/')
    finally:
        eng.query('alter database set select_points_limit 1000000')
