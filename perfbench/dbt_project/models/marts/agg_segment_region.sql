select market_segment, region_name, count(*) as n_orders,
       count(distinct customer_key) as n_customers,
       sum(net_revenue) as net_revenue
from {{ ref('fct_orders') }}
group by market_segment, region_name
