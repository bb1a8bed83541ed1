select user_id, count(*) as n_events, min(event_ts) as first_seen,
       max(event_ts) as last_seen, sum(event_value) as total_value
from {{ ref('stg_events') }}
group by user_id
