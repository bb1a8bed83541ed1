select event_date, event_type, count(*) as n_events,
       count(distinct user_id) as n_users, sum(event_value) as total_value
from {{ ref('stg_events') }}
group by event_date, event_type
