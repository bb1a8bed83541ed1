select ship_month, count(*) as n_lines, sum(quantity) as quantity,
       sum(net_revenue) as net_revenue
from {{ ref('fct_lineitems') }}
group by ship_month
