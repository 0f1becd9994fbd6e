"""The EventFlux SQL application both CEP workloads run, and its
independent DuckDB reference.

``LIVE_APP`` runs on the live stream (the live half of ``cep``) and,
with ``REPLAY_EXTRA`` added, in batch over the parquet log (its replay
half).
The benchmark registers the declared streams ``Events`` and ``Purchases``
(the purchase events of ``Events``) and the ``Users`` dimension with
``SqlApp.register_stream``.

Event time is logical, one second per event (see ``inputs``), so the
``WINDOW`` and ``WITHIN`` lengths below are counts of events across all
keys. ``WINDOW_S`` events are 20 s of traffic at 1k events/s; a live run
is shorter than that, so as with wall-clock windows the per-key state
grows for the whole run.

The pattern output's partition key is spelled per path: on a live
stream ``e1.user_id`` under ``PARTITION WITH`` fails with
UNRESOLVED_COLUMN, and in batch the bare ``user_id`` fails the same way,
so no one spelling runs on both.

Replay outputs are compared as fingerprints (row count plus order-free
integer sums), computed with the same SQL text in Spark and in DuckDB, so
no output has to be collected to the driver to be checked.
"""

from __future__ import annotations

WITHIN_S = 100_000
WINDOW_S = 20_000

_APP = """
CREATE STREAM Events (ts TIMESTAMP, user_id STRING, event_type STRING,
                      amount DOUBLE, event_id BIGINT, gen_ns BIGINT);
PARTITION WITH (user_id OF Events) BEGIN
  INSERT INTO Funnels
  SELECT {key}, e1.event_id AS signup_id, e2.event_id AS purchase_id,
         e2.gen_ns AS gen_ns
  FROM EVERY PATTERN (e1=Events[event_type = 'signup']
                      -> e2=Events[event_type = 'purchase'])
  WITHIN {within} SECONDS;
  INSERT INTO Activity
  SELECT user_id, event_id, gen_ns, count(*) AS n_events, sum(amount) AS spend
  FROM Events WINDOW('time', {window} SECONDS);
END;
"""
LIVE_APP = _APP.format(key="user_id", within=WITHIN_S, window=WINDOW_S)

REPLAY_EXTRA = """
CREATE STREAM Purchases (ts TIMESTAMP, user_id STRING, event_type STRING,
                         amount DOUBLE, event_id BIGINT, gen_ns BIGINT);
CREATE TABLE UserSpend (user_id STRING, last_purchase_id BIGINT, last_amount DOUBLE);
INSERT INTO Rollup
SELECT window_start, event_type, count(*) AS n, sum(amount) AS total
FROM Events WINDOW TUMBLING(1 HOUR) GROUP BY event_type;
INSERT INTO Enriched
SELECT Events.event_id AS event_id, Users.tier AS tier,
       Users.country AS country, Events.amount AS amount
FROM Events JOIN Users ON Events.user_id = Users.user_id;
UPDATE OR INSERT INTO UserSpend
SELECT user_id, event_id AS last_purchase_id, amount AS last_amount
FROM Purchases ON UserSpend.user_id = Purchases.user_id;
"""


def replay_app() -> str:
    """The replay app text. The extra statements go first: the parser
    only finds a PARTITION block's closing END when the block is the
    last statement of the app."""
    return REPLAY_EXTRA + _APP.format(
        key="e1.user_id AS user_id", within=WITHIN_S, window=WINDOW_S
    )


#: output → (columns checked, layer span that produces it)
OUTPUTS = {
    "Funnels": (("user_id", "signup_id", "purchase_id"), "operators.pattern"),
    "Activity": (("user_id", "event_id", "n_events", "spend"), "operators.sliding"),
    "Rollup": (("window_start", "event_type", "n", "total"), "operators.tumbling"),
    "Enriched": (("event_id", "tier", "country", "amount"), "operators.enrich"),
    "UserSpend": (("user_id", "last_purchase_id", "last_amount"), "tables.dml"),
}
LIVE_OUTPUTS = ("Funnels", "Activity")

#: DuckDB reference over a table ``ev`` (event columns + ``s`` = epoch
#: seconds) and a table ``users``
REFERENCE_SQL = {
    "Funnels": f"""
        SELECT user_id, event_id AS signup_id, next_id AS purchase_id
        FROM (SELECT user_id, event_id, event_type, s,
                     first_value(CASE WHEN event_type = 'purchase'
                                 THEN event_id END IGNORE NULLS) OVER w AS next_id,
                     first_value(CASE WHEN event_type = 'purchase'
                                 THEN s END IGNORE NULLS) OVER w AS next_s
              FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY s ROWS BETWEEN
                                   1 FOLLOWING AND UNBOUNDED FOLLOWING))
        WHERE event_type = 'signup' AND next_s <= s + {WITHIN_S}""",
    "Activity": f"""
        SELECT user_id, event_id, count(*) OVER w AS n_events,
               sum(amount) OVER w AS spend
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY s
                             RANGE BETWEEN {WINDOW_S} PRECEDING AND CURRENT ROW)""",
    "Rollup": """
        SELECT s - s % 3600 AS window_start, event_type, count(*) AS n,
               sum(amount) AS total
        FROM ev GROUP BY ALL""",
    "Enriched": """
        SELECT ev.event_id, users.tier, users.country, ev.amount
        FROM ev JOIN users USING (user_id)""",
    "UserSpend": """
        SELECT user_id, arg_max(event_id, s) AS last_purchase_id,
               arg_max(amount, s) AS last_amount
        FROM ev WHERE event_type = 'purchase' GROUP BY user_id""",
}

_M = 2_147_483_647
_PRIMES = (1_000_003, 998_244_353, 1_000_000_007, 19_260_817)


def _image(col: str, kind: str, spark: bool) -> str:
    """Integer image of one column value, spelled the same in both engines."""
    if col == "user_id":
        return f"cast(substr({col}, 2) AS BIGINT)"
    if kind == "string":
        return (
            f"cast(length({col}) * 65536 + ascii({col}) * 256"
            f" + ascii(right({col}, 1)) AS BIGINT)"
        )
    if kind == "timestamp":
        return f"unix_seconds({col})" if spark else f"epoch({col})::BIGINT"
    return f"cast(round({col}) AS BIGINT)"


def fingerprint_sql(cols: tuple[str, ...], kinds: dict[str, str], spark: bool) -> str:
    """Select list of ``n`` plus one order-free sum per column and a
    row-mix sum that pairs the columns of each row."""
    imgs = [_image(c, kinds[c], spark) for c in cols]
    mix = " + ".join(
        f"(({img}) % {_M}) * {_PRIMES[i % len(_PRIMES)]} % {_M}"
        for i, img in enumerate(imgs)
    )
    sums = [f"sum({img}) AS s{i}" for i, img in enumerate(imgs)]
    return ", ".join(["count(*) AS n", *sums, f"sum(({mix}) % {_M}) AS mix"])
