-- logs_transform's filter chain restated in DuckDB SQL, independent of graft.
-- {input}: the generated input directory; {output}: the expected-lines file.
-- One expected output line per surviving record: every declared field in
-- order, joined by ';' (what FileWriter writes off the full-parse path).
SET TimeZone = 'UTC';
COPY (
  WITH raw AS (
    SELECT * FROM read_csv('{input}/*.log.zst', delim = ';', header = false,
      quote = '', escape = '', auto_detect = false, compression = 'zstd',
      columns = {
    'ts': 'VARCHAR',
    'url': 'VARCHAR',
    'payload': 'VARCHAR',
    'user_id': 'VARCHAR',
    'campaign': 'VARCHAR',
    'country': 'VARCHAR',
    'device': 'VARCHAR',
    'bid_price': 'VARCHAR',
    'ssp_name': 'VARCHAR',
    'width': 'VARCHAR',
    'cid': 'VARCHAR',
    'ts_fmt': 'VARCHAR',
    'user_hash': 'VARCHAR',
    'campaign_copy': 'VARCHAR',
    'schema_ver': 'VARCHAR',
    'f15': 'VARCHAR',
    'f16': 'VARCHAR',
    'f17': 'VARCHAR',
    'f18': 'VARCHAR',
    'f19': 'VARCHAR',
    'f20': 'VARCHAR',
    'f21': 'VARCHAR',
    'f22': 'VARCHAR',
    'f23': 'VARCHAR',
    'f24': 'VARCHAR',
    'f25': 'VARCHAR',
    'f26': 'VARCHAR',
    'f27': 'VARCHAR',
    'f28': 'VARCHAR',
    'f29': 'VARCHAR',
    'f30': 'VARCHAR',
    'f31': 'VARCHAR',
    'f32': 'VARCHAR',
    'f33': 'VARCHAR',
    'f34': 'VARCHAR',
    'f35': 'VARCHAR',
    'f36': 'VARCHAR',
    'f37': 'VARCHAR',
    'f38': 'VARCHAR',
    'f39': 'VARCHAR'
    })
  ),
  kept AS (
    SELECT * FROM raw
    -- NotNull: user_id and url non-empty
    WHERE coalesce(user_id, '') <> '' AND coalesce(url, '') <> ''
    -- TimestampRange: [2024-01-01 00:00:00, 2024-01-01 20:00:00) UTC
      AND TRY_CAST(ts AS BIGINT) >= 1704067200 AND TRY_CAST(ts AS BIGINT) < 1704139200
    -- RegexMatch on country
      AND regexp_matches(coalesce(country, ''), '^(US|CA|GB|DE|FR|JP)$')
  )
  -- ExpandJSON, URLParam, FormatTime (unix -> RFC3339), Hash (md5 hex),
  -- ReplaceFields (copy campaign, set schema_ver)
  SELECT concat_ws(';',
    coalesce(ts, ''),
    coalesce(url, ''),
    coalesce(payload, ''),
    coalesce(user_id, ''),
    coalesce(campaign, ''),
    coalesce(country, ''),
    coalesce(device, ''),
    coalesce(json_extract_string(payload, '$.bid'), ''),
    coalesce(json_extract_string(payload, '$.ssp'), ''),
    coalesce(json_extract_string(payload, '$.w'), ''),
    regexp_extract(url, '[?&]cid=([^&#]*)', 1),
    strftime(to_timestamp(CAST(ts AS BIGINT)), '%Y-%m-%dT%H:%M:%SZ'),
    md5(user_id),
    coalesce(campaign, ''),
    'v2',
    coalesce(f15, ''),
    coalesce(f16, ''),
    coalesce(f17, ''),
    coalesce(f18, ''),
    coalesce(f19, ''),
    coalesce(f20, ''),
    coalesce(f21, ''),
    coalesce(f22, ''),
    coalesce(f23, ''),
    coalesce(f24, ''),
    coalesce(f25, ''),
    coalesce(f26, ''),
    coalesce(f27, ''),
    coalesce(f28, ''),
    coalesce(f29, ''),
    coalesce(f30, ''),
    coalesce(f31, ''),
    coalesce(f32, ''),
    coalesce(f33, ''),
    coalesce(f34, ''),
    coalesce(f35, ''),
    coalesce(f36, ''),
    coalesce(f37, ''),
    coalesce(f38, ''),
    coalesce(f39, '')) AS line
  FROM kept
) TO '{output}' (FORMAT csv, HEADER false, QUOTE '', ESCAPE '');
