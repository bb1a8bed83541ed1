select event_id, ts as event_ts, cast(ts as date) as event_date, user_id,
       event_type, value as event_value
from {{ source('tpch', 'events') }}
