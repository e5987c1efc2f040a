"""The result hash ignores row and column order and the engines' choice
of numeric and timestamp types, and sees any changed value."""

import duckdb

from perfbench.batch_headline import result_hash


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("""CREATE TABLE a AS SELECT * FROM (VALUES
        (1, 2.5::DECIMAL(10, 2), TIMESTAMP '2024-01-01 10:00:00', 'x'),
        (2, 3.0::DECIMAL(10, 2), TIMESTAMP '2024-01-02 11:30:00', NULL)) t(id, v, ts, s)""")
    con.execute("""CREATE TABLE b AS SELECT * FROM (VALUES
        ('', 3.0::DOUBLE, TIMESTAMPTZ '2024-01-02 11:30:00+00', 2::BIGINT),
        ('x', 2.5::DOUBLE, TIMESTAMPTZ '2024-01-01 10:00:00+00', 1::BIGINT)) t(s, v, ts, id)""")
    con.execute("UPDATE b SET s = NULL WHERE s = ''")
    return con


def test_order_and_types_do_not_matter():
    con = _con()
    assert result_hash(con, "a") == result_hash(con, "b")
    assert result_hash(con, "a")[0] == 2


def test_changed_value_is_seen():
    con = _con()
    con.execute("UPDATE b SET v = 2.51 WHERE id = 1")
    assert result_hash(con, "a") != result_hash(con, "b")


def test_duplicate_rows_count():
    con = _con()
    con.execute("INSERT INTO b SELECT * FROM b WHERE id = 1")
    assert result_hash(con, "a") != result_hash(con, "b")
