#!/usr/bin/env python3
"""Expected counts for StormFixtureSpec, derived with DuckDB SQL straight
from the fixture file and the reference's transform rules
(internal/domain/transform.go), independent of graft.

Run from the repo root: python3 tools/storm_fixture_counts.py
"""
import duckdb

FIXTURE = "src/test/resources/storm_reports_240426.json"
LOC_RE = r"^([0-9]+(\.[0-9]+)?)\s+([NSEW]{1,3})\s+(.+)$"

con = duckdb.connect()
con.execute(f"""
CREATE VIEW raw AS SELECT * FROM read_json('{FIXTURE}', format = 'array',
  columns = {{Time: 'VARCHAR', Size: 'VARCHAR', F_Scale: 'VARCHAR', Speed: 'VARCHAR',
             Location: 'VARCHAR', County: 'VARCHAR', State: 'VARCHAR', Lat: 'VARCHAR',
             Lon: 'VARCHAR', Comments: 'VARCHAR', EventType: 'VARCHAR'}})""")
# magnitude column per type; UNK/empty -> 0; "EF"/"F" prefixes stripped;
# legacy hail hundredths (>= 10) -> inches
con.execute("""
CREATE VIEW mag AS
WITH sel AS (
  SELECT *, trim(CASE EventType WHEN 'hail' THEN Size WHEN 'tornado' THEN F_Scale
                               WHEN 'wind' THEN Speed END) AS m
  FROM raw),
parsed AS (
  SELECT *, CASE WHEN m IS NULL OR m = '' OR upper(m) = 'UNK' THEN 0.0
                 ELSE coalesce(TRY_CAST(regexp_replace(regexp_replace(m, '^EF', ''), '^F', '')
                                        AS DOUBLE), 0.0) END AS raw_mag
  FROM sel)
SELECT *, CASE WHEN EventType = 'hail' AND raw_mag >= 10 THEN raw_mag / 100
               ELSE raw_mag END AS magnitude
FROM parsed""")
con.execute("""
CREATE VIEW sev AS SELECT *, CASE
  WHEN magnitude = 0 THEN NULL
  WHEN EventType = 'hail' THEN CASE WHEN magnitude < 0.75 THEN 'minor'
    WHEN magnitude < 1.5 THEN 'moderate' WHEN magnitude < 2.5 THEN 'severe' ELSE 'extreme' END
  WHEN EventType = 'wind' THEN CASE WHEN magnitude < 50 THEN 'minor'
    WHEN magnitude < 74 THEN 'moderate' WHEN magnitude < 96 THEN 'severe' ELSE 'extreme' END
  WHEN EventType = 'tornado' THEN CASE WHEN magnitude <= 1 THEN 'minor'
    WHEN magnitude = 2 THEN 'moderate' WHEN magnitude <= 4 THEN 'severe' ELSE 'extreme' END
  END AS severity FROM mag""")


def q(sql):
    return con.execute(sql).fetchall()


print("rows:", q("SELECT count(*) FROM raw"))
print("per type:", q("SELECT EventType, count(*) FROM raw GROUP BY 1 ORDER BY 1"))
print("hail magnitude outside (0, 10):",
      q("SELECT count(*) FROM mag WHERE EventType = 'hail' AND (magnitude <= 0 OR magnitude >= 10)"))
print("tornado magnitude != 0:", q("SELECT count(*) FROM mag WHERE EventType = 'tornado' AND magnitude <> 0"))
print("wind magnitude outside [0, 200]:",
      q("SELECT count(*) FROM mag WHERE EventType = 'wind' AND (magnitude < 0 OR magnitude > 200)"))
print("severity:", q("SELECT coalesce(severity, 'none'), count(*) FROM sev GROUP BY 1 ORDER BY 1"))
print("with severity:", q("SELECT count(*) FROM sev WHERE severity IS NOT NULL"))
print("magnitude >= 1.75:", q("SELECT count(*) FROM mag WHERE magnitude >= 1.75"))
print("office code missing or not 3-5 chars:", q(r"""
  SELECT count(*) FROM (SELECT regexp_extract(trim(Comments), '\(([A-Z]{3,5})\)\s*$', 1) AS o FROM raw)
  WHERE length(o) < 3 OR length(o) > 5"""))
print("dist/dir locations:", q(f"SELECT count(*) FROM raw WHERE regexp_matches(trim(Location), '{LOC_RE}')"))
print("bare-name locations:", q(f"""SELECT count(*) FROM raw
  WHERE NOT regexp_matches(trim(Location), '{LOC_RE}') AND trim(Location) <> ''"""))
print("HHMM times (3-4 digits, valid):", q(r"""SELECT count(*) FROM raw
  WHERE regexp_matches(trim(Time), '^[0-9]{3,4}$')
    AND CAST(lpad(trim(Time), 4, '0')[1:2] AS INT) <= 23
    AND CAST(lpad(trim(Time), 4, '0')[3:4] AS INT) <= 59"""))
print("distinct id keys:", q("""SELECT count(*) FROM (SELECT DISTINCT EventType, State, Lat, Lon, Time, raw_mag
  FROM mag)"""))
