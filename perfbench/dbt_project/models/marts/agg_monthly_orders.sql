select order_month, order_status, count(*) as n_orders,
       sum(total_price) as total_price, sum(net_revenue) as net_revenue
from {{ ref('fct_orders') }}
group by order_month, order_status
